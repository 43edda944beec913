package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expr.Exprs
import graft.ops.Ops
import graft.io.Tables

/** Harness queries for the reference's relational/ETL operator
  * inventory (SURVEY.md §2), phrased over the shared TPC-H-ish tables
  * with DuckDB oracle SQL. Determinism rules (so hashes match):
  * explicit ORDER BY everywhere, computed ints as BIGINT, float sums
  * via exact decimal casts (Exprs.dsum), no uuid()/now() in compared
  * columns (SURVEY.md §7.4.3 — deterministic md5 surrogates instead).
  */
object CoreQueries {
  private type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, dir: String, name: String) = Tables.read(s, dir, name)

  val queries: Seq[(String, Q)] = Seq(

    // W1 — flagship dedup keep-latest-per-key (user_transformer.py:236-320)
    "w1_dedup_keep_latest" -> ((s, dir) => {
      t(s, dir, "events")
        .transform(Ops.dedupKeepLatest(Seq("user_id", "event_type"), "ts", "event_id"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // W1 stats detail channel (user_transformer.py:257-274): what the
    // flagship dedup removed, per key — count, kept id, member list
    "w1_dedup_stats" -> ((s, dir) =>
      t(s, dir, "events")
        .transform(Ops.dedupStats(Seq("user_id", "event_type"), "ts", "event_id"))
        .orderBy(col("user_id"), col("event_type"))),

    // W2 — top-1-per-group retention (postgres_loader.py:474-522)
    "w2_top1_per_group" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
        .select(col("user_id"), col("event_id"), col("value"))
        .orderBy(col("user_id"))
    }),

    // A1 — duplicate-key counting with member lists (user_transformer.py:252-274)
    "a1_duplicate_key_detail" -> ((s, dir) =>
      Ops.duplicateKeyStats(t(s, dir, "events"), "user_id", "event_id")
        .orderBy(col("user_id"))),

    // A2 — single-pass conditional aggregates (firebase_service.py:187-200)
    "a2_conditional_aggs" -> ((s, dir) =>
      t(s, dir, "events").agg(
        count(lit(1)).as("total"),
        count(when(col("event_type") === "purchase", 1)).as("purchases"),
        count(when(col("value") > 300, 1)).as("high_value"),
        Exprs.dsum(col("value"), 2).as("sum_value"))),

    // A3 — COUNT(*) (postgres_loader.py:432-434)
    "a3_count_star" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(count(lit(1)).as("cnt"))),

    // A4 — GROUP BY distribution (postgres_loader.py:437-442)
    "a4_group_count" -> ((s, dir) =>
      Ops.groupedCounts(t(s, dir, "events"), col("event_type"), "event_type")
        .orderBy(col("event_type"))),

    // A4 rollup — subtotal + grand-total in one pass (beyond the
    // reference's flat GROUP BY; Catalyst expands grouping sets)
    "a4_rollup" -> ((s, dir) =>
      t(s, dir, "events")
        .rollup(col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("event_type").asc_nulls_first)),

    // A5 — GROUP BY boolean (postgres_loader.py:445-450)
    "a5_group_by_bool" -> ((s, dir) =>
      Ops.groupedCounts(t(s, dir, "customer"), col("c_acctbal") > 2500, "positive")
        .orderBy(col("positive"))),

    // A6 — filtered recency count (postgres_loader.py:453-458)
    "a6_filtered_count" -> ((s, dir) =>
      t(s, dir, "events")
        .filter(col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp"))
        .agg(count(lit(1)).as("cnt"))),

    // A7 — HAVING count > 1 (postgres_loader.py:482-489)
    "a7_having_dups" -> ((s, dir) =>
      t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)
        .orderBy(col("o_custkey"))),

    // A8 — describe()-style summary stats (sql_extraction.py:574)
    "a8_summary_stats" -> ((s, dir) =>
      Ops.summaryStats(t(s, dir, "lineitem"), "l_extendedprice", 2)),

    // A14 — per-group describe: the grouped profile report, exact
    // decimal sums per group so hashes never depend on partitioning.
    "a14_group_describe" -> ((s, dir) =>
      Ops.groupedSummaryStats(t(s, dir, "lineitem"), "l_returnflag",
          "l_extendedprice", 2)
        .orderBy(col("l_returnflag"))),

    // A15 — exact-sum Pearson correlation: partitioning-independent,
    // unlike built-in corr (running double sums depend on merge order).
    "a15_exact_corr" -> ((s, dir) =>
      Ops.exactCorr(t(s, dir, "lineitem"), "l_quantity", "l_extendedprice", 2)),

    // A8 quartiles — describe()'s 25/50/75% (sql_extraction.py:574).
    // Exact interpolated percentile (matches DuckDB quantile_cont
    // bit-for-bit); at cluster scale swap in approx_percentile — same
    // operator shape, sketch-based instead of sort-based.
    "a8_quantiles" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(
        count(col("l_extendedprice")).as("cnt"),
        min(col("l_extendedprice")).as("min_v"),
        expr("percentile(l_extendedprice, 0.25D)").as("q1"),
        expr("percentile(l_extendedprice, 0.5D)").as("median"),
        expr("percentile(l_extendedprice, 0.75D)").as("q3"),
        max(col("l_extendedprice")).as("max_v"))),

    // A9 — §2.8 validation report (user_transformer.py:457-477)
    "a9_validation_report" -> ((s, dir) =>
      Ops.validationReport(Ops.withErrors(eventChecks)(t(s, dir, "events")))),

    // A10 — per-column null-count validation (user_transformer.py:491-519)
    "a10_null_counts" -> ((s, dir) =>
      t(s, dir, "events").agg(
        count(when(nullif(col("event_type"), lit("error")).isNull, 1)).as("null_type"),
        count(when(when(col("value") > 400, lit(null)).otherwise(col("value")).isNull, 1)).as("null_value"))),

    // J1 — left-outer enrichment join + P2/P3 overlay
    // (firebase_service.py:79-165). No broadcast hint: Catalyst picks
    // broadcast for a small side and a shuffle join at scale (an auth
    // table is 1:1 with users, so forcing broadcast would OOM there).
    "j1_enrich_left_outer" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "left_outer")
        .select(o("o_orderkey"), o("o_custkey"),
          coalesce(c("c_name"), lit("unknown")).as("cust_name"),
          coalesce(c("c_mktsegment"), lit("NONE")).as("segment"),
          c("c_custkey").isNotNull.as("has_customer"),
          when(c("c_custkey").isNotNull && c("c_acctbal") >= 2500, lit("database"))
            .when(c("c_custkey").isNotNull, lit("auth"))
            .otherwise(lit("none")).as("auth_source"))
        .orderBy(col("o_orderkey"))
    }),

    // J2 — conflict detection + key rewrite (main.py:143-157) through
    // Ops.resolveIdConflicts; md5-surrogate for uuid20 (SURVEY.md §7.4.3)
    "j2_anti_conflict_rewrite" -> ((s, dir) => {
      val existing = t(s, dir, "customer").filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").cast("string").as("resolved_key"))
      Ops.resolveIdConflicts(
        t(s, dir, "events").withColumn("resolved_key", col("user_id").cast("string")),
        existing, "resolved_key",
        Exprs.deterministicKey20(concat(lit("conflict:"), col("event_id").cast("string"))))
        .select(col("event_id"), col("user_id"), col("resolved_key"))
        .orderBy(col("event_id"))
    }),

    // J3 — duplicate grouping via window count (user_transformer.py:252-268)
    "j3_dup_group_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
      t(s, dir, "orders")
        .withColumn("cnt", count(lit(1)).over(w))
        .filter(col("cnt") > 1)
        .select(col("o_orderkey"), col("o_custkey"), col("cnt"))
        .orderBy(col("o_orderkey"))
    }),

    // P2/P3/P6/P7/P9 — enrichment projection battery
    "p_enrich_projection" -> ((s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        coalesce(nullif(trim(col("c_name")), lit("")), lit("unknown")).as("name_clean"),
        when(col("c_acctbal") < 1000,
          concat(lit("google_user_"), col("c_custkey").cast("string"), lit("@placeholder.com")))
          .otherwise(concat(lower(regexp_replace(col("c_name"), "#", ".")), lit("@example.com")))
          .as("email"),
        Exprs.maskEmail(col("c_name")).as("masked"),
        (col("c_acctbal") > 0).as("has_funds"),
        when(col("c_acctbal") > 5000, lit("database"))
          .when(col("c_acctbal") > 0, lit("auth"))
          .otherwise(lit("none")).as("auth_source"))
        .orderBy(col("c_custkey"))),

    // P10 — interval-arithmetic recency filter (postgres_loader.py:453-458)
    "p10_interval_filter" -> ((s, dir) =>
      t(s, dir, "events")
        .filter(col("ts") >= expr("TIMESTAMP '2024-02-10 00:00:00' - INTERVAL 30 DAY"))
        .select(col("event_id"), col("ts"))
        .orderBy(col("event_id"))),

    // P11 — LIKE / ILIKE pattern filters (sql_extraction.py:497-503)
    "p11_pattern_filter" -> ((s, dir) =>
      t(s, dir, "part")
        .filter(lower(col("p_name")).like("%gear%") || lower(col("p_type")).like("%econ%"))
        .select(col("p_partkey"), col("p_name"), col("p_type"))
        .orderBy(col("p_partkey"))),

    // S1/P1 — embedded-map key extraction (the RTDB explode analog,
    // firebase_service.py:150-152) via regexp on the JSON props column
    "s1_json_key_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long").as("k_value"))
        .orderBy(col("event_id"))),

    // S2 — point lookup, pushdown-able predicate (firebase_service.py:220-254)
    "s2_point_lookup" -> ((s, dir) =>
      t(s, dir, "events").filter(col("event_id") === 42)),

    // S6 — oracle-checked scan THROUGH the Datastore DSv2 source
    // (datastore_service.py:105-178): the harness loads `nation` into a
    // localhost REST v1 server (DatastoreLocalStub — true service key
    // order, numeric ids) and reads it back through the full source
    // path: keys-only partition planning, sharded cursor-paged range
    // scans, key promotion. Result rows are re-materialized driver-side
    // (25 rows — harness transport only; the scan itself is the
    // distributed path) so the stub can be stopped before returning.
    "s6_datastore_scan" -> ((s, dir) => {
      val rows = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name"),
          col("n_regionkey").cast("long"))
        .collect()
        .map { r =>
          val name = com.fasterxml.jackson.databind.node.TextNode.valueOf(r.getString(1)).toString
          (r.getLong(0).toString,
            s"""{"n_name":{"stringValue":$name},"n_regionkey":{"integerValue":"${r.getLong(2)}"}}""")
        }
      val url = graft.sources.DatastoreLocalStub.serve("Nation", rows.toSeq)
      try {
        val scanned = s.read.format("graft.sources.DatastoreSource")
          .option("url", url).option("projectId", "harness").option("kind", "Nation")
          .option("numPartitions", "3").option("pageSize", "7").load()
          .select(col("id").cast("long").as("n_nationkey"),
            get_json_object(col("json"), "$.n_name.stringValue").as("n_name"),
            get_json_object(col("json"), "$.n_regionkey.integerValue").cast("long")
              .as("n_regionkey"))
          .orderBy(col("n_nationkey"))
        val out = scanned.collect() // executes the sharded scan while the stub is live
        s.createDataFrame(java.util.Arrays.asList(out: _*), scanned.schema)
      } finally graft.sources.DatastoreLocalStub.stop(url)
    }),

    // S4/O2 — deterministic ordered limit (firebase_service.py:132-137)
    "s4_ordered_limit" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey")).limit(10)),

    // O1 — global sort, nulls first (user_transformer.py:288)
    "o1_sort_nulls_first" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"), when(col("value") > 400, lit(null)).otherwise(col("value")).as("v"))
        .orderBy(col("v").asc_nulls_first, col("event_id")).limit(50)),

    // O3 — top-k (sql_extraction.py:349 et al.)
    "o3_topk" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(20)),

    // F2 — array cleaning, empty→null (user_transformer.py:63-81)
    "f2_array_clean" -> ((s, dir) => {
      val arr = array(
        nullif(col("event_type"), lit("error")),
        lit(null).cast("string"),
        when(col("event_id") % 5 === 0, lit(null).cast("string")).otherwise(lit("x")))
      t(s, dir, "events")
        .select(col("event_id"), array_join(Exprs.cleanArray(arr), ",").as("kept"))
        .orderBy(col("event_id"))
    }),

    // F3 — flexible timestamp parse round-trip (user_transformer.py:83-148)
    "f3_flexible_timestamp" -> ((s, dir) => {
      val m = col("event_id") % 8
      val raw = when(m === 0, date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
        .when(m === 1, date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"))
        .when(m === 2, date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"))
        .when(m === 3, date_format(col("ts"), "yyyy-MM-dd"))
        .when(m === 4, unix_timestamp(col("ts")).cast("string"))
        .when(m === 5, (unix_timestamp(col("ts")) * 1000 + 250).cast("string"))
        .when(m === 6, concat(lit("{\"seconds\": "),
          unix_timestamp(col("ts")).cast("string"), lit(", \"nanoseconds\": 0}")))
        .otherwise(lit("nan"))
      t(s, dir, "events")
        .select(col("event_id"), raw.as("raw"), Exprs.parseFlexibleTimestamp(raw).as("parsed"))
        .orderBy(col("event_id"))
    }),

    // F5 — interests comma-split parse (user_transformer.py:150-177)
    "f5_parse_interests" -> ((s, dir) => {
      val raw = concat(col("lang"), lit(", "), col("source"), lit(", ,"),
        when(col("doc_id") % 3 === 0, lit(" reading")).otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"),
          array_join(Exprs.parseInterests(raw), "|").as("interests"),
          size(Exprs.parseInterests(raw)).cast("long").as("n"))
        .orderBy(col("doc_id"))
    }),

    // F6 — status normalization incl. French variants (user_transformer.py:179-202)
    "f6_normalize_status" -> ((s, dir) => {
      val options = array(lit("actif"), lit("BLOCKED"), lit("Enabled"), lit("banni"),
        lit(" inactive "), lit("disabled"), lit("weird"), lit(null).cast("string"))
      val raw = element_at(options, (col("doc_id") % 8 + 1).cast("int"))
      t(s, dir, "documents")
        .select(col("doc_id"), raw.as("raw"), Exprs.normalizeStatus(raw).as("status"))
        .orderBy(col("doc_id"))
    }),

    // F7 — string cleaning + null tokens (user_transformer.py:204-234)
    "f7_clean_string" -> ((s, dir) => {
      val options = array(lit("  hello "), lit("nan"), lit("NULL"), lit(""),
        lit("None"), lit("world  "), lit("NaT"), lit("ok"))
      val raw = element_at(options, (col("doc_id") % 8 + 1).cast("int"))
      t(s, dir, "documents")
        .select(col("doc_id"), raw.as("raw"), Exprs.cleanString(raw).as("cleaned"))
        .orderBy(col("doc_id"))
    }),

    // F9 — Postgres array literal with quote escaping (postgres_loader.py:334-354)
    "f9_pg_array_literal" -> ((s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"),
          Exprs.pgArrayLiteral(array(col("c_name"), col("c_mktsegment"), lit("o'brien")))
            .as("pg_literal"))
        .orderBy(col("c_custkey"))),

    // F10/F11 — boolean coercion + default fills (postgres_loader.py:216-239)
    "f10_f11_defaults" -> ((s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        Exprs.cleanBool(when(col("event_type") === "purchase", lit(null))
          .otherwise(col("value") > 300)).as("flag"),
        Exprs.withDefault(
          when(col("user_id") % 3 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("src"), (col("user_id") % 3).cast("string"))),
          lit("CREDENTIALS")).as("provider"),
        Exprs.withDefault(when(col("event_id") % 4 === 0, lit(null).cast("timestamp"))
          .otherwise(col("ts")),
          lit("2024-01-01 00:00:00").cast("timestamp")).as("ts_filled"))
        .orderBy(col("event_id"))),

    // F14 — ISO formatting (datastore_service.py:153-155)
    "f14_iso_format" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), Exprs.isoFormat(col("o_orderdate")).as("iso"))
        .orderBy(col("o_orderkey"))),

    // SQL-surface end-to-end: the reference's users drive everything
    // through SQL strings (sql_extraction.py:62-65, :349,
    // postgres_loader.py:437-458). This harness query is phrased
    // ENTIRELY as one spark.sql string over the GraftExtensions-
    // registered F-series functions — no Scala Columns — proving the
    // cleaning layer is reachable from a pure-SQL client (JDBC/
    // thriftserver, notebook %%sql, spark.sql.extensions conf).
    "sql_e2e_cleaning" -> ((s, dir) => {
      graft.expr.kernels.GraftExtensions.install(s)
      t(s, dir, "documents").createOrReplaceTempView("documents_sqlv")
      s.sql("""
        SELECT doc_id,
          graft_clean_string(element_at(
            array('  hello ','nan','NULL','','None','world  ','NaT','ok'),
            CAST(doc_id % 8 + 1 AS INT))) AS cleaned,
          graft_normalize_status(element_at(
            array('actif','BLOCKED','Enabled','banni',' inactive ','disabled','weird',
                  CAST(NULL AS STRING)),
            CAST(doc_id % 8 + 1 AS INT))) AS status,
          graft_mask_email(concat(lang, '_', CAST(doc_id AS STRING), '@example.com')) AS masked,
          graft_pg_array(array(lang, source, 'o\'brien')) AS pg_literal,
          array_join(graft_parse_interests(concat(lang, ', ', source, ', ,')), '|') AS interests
        FROM documents_sqlv ORDER BY doc_id""")
    }),

    // F15 — guarded percent math (user_transformer.py:468-469)
    "f15_percent_guarded" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), count(when(col("value") > 300, 1)).as("hi"))
        .withColumn("pct", Exprs.percent(col("hi"), col("cnt")))
        .orderBy(col("event_type"))),

    // §2.8 — row-level validation flags + error channel
    "v_validation_flags" -> ((s, dir) =>
      Ops.withErrors(eventChecks)(t(s, dir, "events"))
        .select(col("event_id"), col("event_type"), col("value"),
          concat_ws(";", col("errors")).as("errs"),
          (size(col("errors")) === 0).as("valid"))
        .orderBy(col("event_id"))),

    // §2.9 — union recombination (main.py:148-154)
    "u_union_recombine" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"), col("event_type"))
      e.filter(col("event_type") === "purchase")
        .unionByName(e.filter(col("event_type") === "signup"))
        .orderBy(col("event_id"))
    }),

    // §2.9 — intersect/except set ops (engine breadth; distinct set
    // semantics in both engines)
    "u_intersect_except" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val purchasers = e.filter(col("event_type") === "purchase").select(col("user_id"))
      val highValue = e.filter(col("value") > 300).select(col("user_id"))
      val erroring = e.filter(col("event_type") === "error" && col("value") > 420)
        .select(col("user_id"))
      purchasers.intersect(highValue).except(erroring)
        .orderBy(col("user_id"))
    }),

    // §2.9 multiset variants: INTERSECT ALL / EXCEPT ALL preserve
    // multiplicity (a user purchasing 2x and erroring once keeps 1
    // row) — the bag semantics the distinct forms above erase; at
    // sf0.01 one user genuinely keeps multiplicity 2 (13 rows, 12
    // users), so ALL-ness is oracle-checked non-vacuously.
    "u2_multiset_ops" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val purchasers = e.filter(col("event_type") === "purchase")
        .select(col("user_id"))
      val highValue = e.filter(col("value") > 300).select(col("user_id"))
      val erroring = e.filter(col("event_type") === "error" && col("value") > 200)
        .select(col("user_id"))
      purchasers.intersectAll(highValue).exceptAll(erroring)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_kept"))
        .orderBy(col("user_id"))
    }),

    // O6 — keyset-free pagination: global order + OFFSET/LIMIT (page 3
    // of 25). At scale the global sort range-partitions; the
    // offset+limit is a driver-side cheap cut of the ordered stream.
    "o6_pagination" -> ((s, dir) =>
      t(s, dir, "documents")
        .orderBy(col("n_chars").desc, col("doc_id"))
        .select(col("doc_id"), col("n_chars"))
        .offset(50).limit(25)),

    // TPC-H Q1 flavor — scan + conditional agg battery at bench scale
    "q1_pricing_summary" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-01-01 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          Exprs.dsum(col("l_extendedprice"), 2).as("sum_base_price"),
          Exprs.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
          Exprs.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).as("sum_charge"),
          Exprs.dsum(col("l_discount"), 2).as("sum_disc"),
          count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("sum_qty"), col("sum_base_price"), col("sum_disc_price"), col("sum_charge"),
          (col("sum_qty") / col("count_order")).as("avg_qty"),
          (col("sum_base_price") / col("count_order")).as("avg_price"),
          (col("sum_disc") / col("count_order")).as("avg_disc"),
          col("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // TPC-H Q5 flavor — 5-way join (join-reorder + dims) with region filter
    "q5_local_volume" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem"); val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .join(su, l("l_suppkey") === su("s_suppkey") && c("c_nationkey") === su("s_nationkey"))
        .join(n, su("s_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .filter(r("r_name") === "ASIA")
        .groupBy(n("n_name").as("n_name"))
        .agg(Exprs.dsum(l("l_extendedprice") * (lit(1) - l("l_discount")), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // TPC-H Q18 flavor — aggregate subquery (decorrelated semi-join) + top-k
    "q18_large_orders" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val big = l.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 150)
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(big, o("o_orderkey") === big("l_orderkey"))
        .select(c("c_name"), c("c_custkey"), o("o_orderkey"), o("o_orderdate"),
          o("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
        .limit(20)
    }),

    // TPC-H Q3 flavor — 3-way join + agg + top-k; broadcast-able dims
    "q3_shipping_priority" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1998-01-01 00:00:00").cast("timestamp"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(Exprs.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    }),

    // Q4-shaped priority check: EXISTS-style correlated semi-join
    // (equi key + non-equi residual on the ship date) — the fixture
    // lacks commit/receipt dates, so "late" = shipped after order
    // date. Plan: hash LEFT SEMI with the residual riding the join.
    "q4_priority_semi" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // A19 — explicit GROUPING SETS through the SQL surface (rollup and
    // cube are a13/a4; arbitrary set lists only exist in SQL): per-
    // lang, per-source, and grand-total rows in ONE pass (Expand).
    "a19_grouping_sets" -> ((s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("gs_documents")
      s.sql("""SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM gs_documents
        |GROUP BY GROUPING SETS ((lang), (source), ())
        |ORDER BY lang NULLS LAST, source NULLS LAST""".stripMargin)
    }),

    // O5 — distribution windows: percent_rank and cume_dist per
    // source over n_chars (exact (rank-1)/(n-1) and cnt<=x/n double
    // divisions — deterministic IEEE on both engines).
    "o5_distribution_windows" -> ((s, dir) => {
      val w = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy(col("doc_id"))
    }),

    // J4 — NULL-SAFE equi-join (<=>): null keys MATCH null keys, the
    // semantic a plain equi-join silently drops. Injected null keys on
    // both sides must pair up.
    "j4_nullsafe_join" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val l = d.select(col("doc_id"),
        when(col("doc_id") % 10 === 3, lit(null).cast("string"))
          .otherwise(col("lang")).as("lk"))
      val r = d.groupBy(
          when(col("doc_id") % 7 === 2, lit(null).cast("string"))
            .otherwise(col("lang")).as("rk"))
        .agg(count(lit(1)).as("n_right"))
      l.join(r, col("lk") <=> col("rk"))
        .select(col("doc_id"), col("lk"), col("n_right"))
        .orderBy(col("doc_id"))
    }),

    // Q22-shaped sales opportunity: customers above the (positive-
    // balance) global average with no RECENT (1998+) orders — the
    // dormant-high-value list; scalar-aggregate
    // threshold broadcast against the scan + LEFT ANTI on orders.
    // The average divides an exact decimal sum by an exact count, so
    // the threshold double is engine-identical.
    "q22_sales_opportunity" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val threshold = c.filter(col("c_acctbal") > 0.0)
        .agg((Exprs.dsum(col("c_acctbal"), 2) /
          count(lit(1))).as("__avg"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1998-01-01 00:00:00").cast("timestamp"))
        .select(col("o_custkey"))
      c.crossJoin(broadcast(threshold))
        .filter(col("c_acctbal") > col("__avg"))
        .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"),
          Exprs.dsum(col("c_acctbal"), 2).as("total_bal"))
        .orderBy(col("c_mktsegment"))
    }),

    // Q10-shaped returned-item report: 4-way join narrowed by the
    // returnflag filter at the scan, grouped customer revenue, top-20
    // via TakeOrderedAndProject. Exact decimal revenue (dsum).
    "q10_returned_items" -> ((s, dir) => {
      val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(Exprs.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // Q7-shaped cross-nation volume: the 6-way join (lineitem x
    // supplier x orders x customer x nation x nation) narrowed by a
    // symmetric nation-pair predicate, yearly exact-decimal revenue.
    // Dims broadcast (nation twice under different roles); the fact
    // table crosses one hash exchange for the grouped aggregate.
    "q7_nation_volume" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      l.join(sup, l("l_suppkey") === sup("s_suppkey"))
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
          (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("yr"))
        .agg(Exprs.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("yr"))
    }),

    // Q19-shaped disjunctive-predicate revenue: the join stays a hash
    // equi-join on partkey while the OR-of-ANDs branch conditions ride
    // as a residual filter — the shape that tests Catalyst keeps the
    // equi key OUT of the disjunction (a naive planner degenerates to
    // a nested-loop join here). Exact-decimal revenue.
    "q19_disjunctive_revenue" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      l.join(p, l("l_partkey") === p("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11) &&
            col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20) &&
            col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#34" && col("l_quantity").between(20, 30) &&
            col("p_size").between(1, 15)))
        .agg(count(lit(1)).as("n_items"),
          Exprs.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("revenue"))
    }),

    // Q16-shaped unsold-brand report: NOT IN over a nullable subquery
    // column — the NULL-AWARE anti join surface (distinct from q4's
    // EXISTS semi and q22's NOT EXISTS anti): one NULL in the subquery
    // must empty the whole result, so Catalyst plans a null-aware
    // BroadcastHashJoin (isNullAwareAntiJoin) rather than a plain
    // anti join. Both engines share the three-valued NOT IN logic.
    "q16_brand_unsold" -> ((s, dir) => {
      t(s, dir, "part").createOrReplaceTempView("q16_part")
      t(s, dir, "lineitem").createOrReplaceTempView("q16_lineitem")
      s.sql("""
        SELECT p_brand, count(*) AS n_parts
        FROM q16_part
        WHERE p_partkey NOT IN (SELECT l_partkey FROM q16_lineitem
                                WHERE l_quantity >= 48)
        GROUP BY p_brand
        ORDER BY p_brand""")
    }),

    // Q17-shaped small-quantity revenue: a CORRELATED scalar subquery
    // (per-part average quantity compared against each lineitem) — the
    // decorrelation surface the suite didn't exercise: Catalyst
    // rewrites the per-row subquery into ONE aggregate over lineitem
    // grouped by partkey joined back (no per-row re-execution; plan
    // note in PLANS.md). The threshold math is engine-portable by
    // construction: exact Long quantity sum, ONE IEEE division by the
    // count, ONE multiply by 0.2 — both engines produce the identical
    // double. Revenue is the exact-decimal dsum split.
    "q17_small_qty_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("q17_lineitem")
      t(s, dir, "part").createOrReplaceTempView("q17_part")
      s.sql("""
        SELECT l_extendedprice
        FROM q17_lineitem l JOIN q17_part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#23'
          AND l.l_quantity < (
            SELECT CAST(0.2 AS DOUBLE) *
                   (CAST(sum(CAST(l2.l_quantity AS BIGINT)) AS DOUBLE)
                    / count(*))
            FROM q17_lineitem l2 WHERE l2.l_partkey = p.p_partkey)""")
        .agg((Exprs.dsum(col("l_extendedprice"), 2) / lit(7.0)).as("avg_yearly"))
    }),

    // Window-function battery: lag/lead, running sum, rank, ntile —
    // one (user, ts) sort serves every function (single exchange).
    "o4_window_analytics" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          lag(col("event_id"), 1).over(w).as("prev_event"),
          lead(col("event_id"), 1).over(w).as("next_event"),
          // exact decimal running sum (stays < 2^53 cents → double cast
          // is exact in both engines; plain double would depend on the
          // engine's window-sum association order)
          sum(col("value").cast("decimal(20,2)")).over(running)
            .cast("double").as("running_value"),
          rank().over(Window.partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id")))
            .cast("long").as("value_rank"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Pivot — per-user event-type count matrix (explicit value list so
    // the plan is a single pass of conditional aggregates, no discovery
    // scan).
    "a11_pivot_counts" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .count()
        .na.fill(0L)
        .orderBy(col("user_id"))),

    // Date-part extraction + monthly rollup (F14-adjacent calendar
    // arithmetic; date_trunc stays a codegen'd expression).
    "f16_month_rollup" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"),
          year(col("o_orderdate")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n_orders"),
          Exprs.dsum(col("o_totalprice"), 2).as("month_revenue"))
        .orderBy(col("month"))),

    // CUBE grouping sets: all subtotal combinations in one pass
    // (Catalyst expands to a single Expand + aggregate).
    "a13_cube_counts" -> ((s, dir) =>
      t(s, dir, "events")
        .cube(col("event_type"), (col("value") > 250).as("high"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("event_type").asc_nulls_first, col("high").asc_nulls_first)),

    // Embedded-JSON value extraction + aggregation (the reference's
    // heterogeneous child documents carry JSON payloads; S1/P1 promote
    // keys, this parses values) — get_json_object stays codegen'd.
    "s3_json_props_agg" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))),

    // Custom bounded top-k AGGREGATE (graft.expr.kernels.TopKLongs):
    // k-bounded heap state merged map-side — the shuffle carries at
    // most k values per (group, task) instead of every row (window) or
    // every value (collect_list).
    "a12_topk_per_user" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .groupBy(col("user_id"))
        .agg(array_join(transform(
          graft.expr.kernels.NativeFns.topK(col("cents"), 3),
          x => x.cast("string")), ",").as("top3"))
        .orderBy(col("user_id"))),

    // As-of join — for each purchase, the user's most recent click at or
    // before it. Spark has no ASOF JOIN; Ops.asofJoin composes it as one
    // shuffle (union + last-ignoreNulls window), linear at any scale.
    "x1_asof_last_click" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_event_id"))
      Ops.asofJoin(purchases, clicks, Seq("user_id"), "ts", "ts", Seq("click_event_id"),
          tieBreak = Some("click_event_id"))
        .orderBy(col("event_id"))
    }),

    // X1b — FORWARD as-of: each purchase matched to the next view at
    // or after it (follow-up attribution); equal-ts views match, ties
    // take the lowest event id — the mirror of x1's backward rule.
    "x1b_asof_next_view" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_event_id"))
      Ops.asofJoinForward(purchases, views, Seq("user_id"), "ts", "ts",
          Seq("view_event_id"), tieBreak = Some("view_event_id"))
        .orderBy(col("event_id"))
    }),

    // X1c — tolerance-bounded as-of: the feature-store staleness
    // guard. Same backward match as x1, but a click older than ONE
    // HOUR before the purchase is no match at all (NULL) — serving a
    // stale feature silently trains on the wrong world state. The
    // oracle's LATERAL window restriction is provably equivalent: any
    // click inside [ts-1h, ts] is newer than every stale one.
    "x1c_asof_tolerant" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_event_id"))
      Ops.asofJoinTolerance(purchases, clicks, Seq("user_id"), "ts", "ts",
          Seq("click_event_id"), toleranceSeconds = 3600L,
          tieBreak = Some("click_event_id"))
        .orderBy(col("event_id"))
    }),

    // Gap sessionization (6h inactivity) + per-session rollup — the
    // standard first step of behavioral pipelines over event logs.
    "x2_sessionize" -> ((s, dir) =>
      t(s, dir, "events")
        .transform(Ops.sessionize(Seq("user_id"), "ts", 21600L))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
        .orderBy(col("user_id"), col("session_id"))),

    // Native session windows — Spark's built-in session_window
    // aggregation (also the streaming path); window end = last event
    // + gap. Same session boundaries as x2, derived by the engine.
    "x4_session_window" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "6 hours"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"), col("n_events"))
        .orderBy(col("user_id"), col("session_start"))),

    // SCD-2 history build: each event becomes a validity interval
    // [ts, next ts) per key, open-ended for the current row — one
    // (key, ts) sort serves lead() and the current-flag.
    "x6_scd2_history" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts").as("valid_from"),
          lead(col("ts"), 1).over(w).as("valid_to"),
          lead(col("ts"), 1).over(w).isNull.as("is_current"))
        .orderBy(col("user_id"), col("valid_from"), col("event_id"))
    }),

    // MERGE/upsert over immutable storage: an "incoming" delta
    // (synthesized deterministically from orders) replaces matching
    // customer rows; anti-join + union, the lakehouse upsert shape.
    "x5_upsert" -> ((s, dir) => {
      val existing = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val incoming = existing.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
      Ops.upsert(existing, incoming, Seq("c_custkey"))
        .orderBy(col("c_custkey"))
    }),

    // Interval/range join via binning: parts classified into (possibly
    // overlapping) price bands with an equi-join on the covering bin —
    // never a cartesian, so the same plan holds at any fact size.
    "x3_range_join_bands" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq(
        ("budget", 900.0, 925.0), ("value", 925.0, 955.0),
        ("mid", 955.0, 975.0), ("premium", 975.0, 990.0),
        ("lux", 990.0, 1000.0), ("all_span", 900.0, 1000.0))
        .toDF("band", "lo", "hi")
      Ops.rangeJoinBinned(t(s, dir, "part"), bands, "p_retailprice", "lo", "hi", 10.0)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("cnt"), Exprs.dsum(col("p_retailprice"), 2).as("sum_price"))
        .orderBy(col("band"))
    }),

    // X7 — preference pairs from the event log (RLHF data prep):
    // per user, highest-value event vs lowest, ties by event_id,
    // zero-margin users dropped.
    "x7_preference_pairs" -> ((s, dir) =>
      Ops.preferencePairs(t(s, dir, "events"), "user_id", "event_id", "value")
        .orderBy(col("user_id"))),

    // K10 — Morton round-trip: Spark interleaves then DE-interleaves;
    // the oracle just emits the plain inputs. A decode bug of any kind
    // is a hash mismatch.
    "k10_zorder_roundtrip" -> ((s, dir) => {
      val (da, db) = graft.io.ZOrder.zdecode2(
        graft.io.ZOrder.zvalue2(col("user_id") % 1048576L, col("event_id") % 1048576L))
      val (ta, tb, tc) = graft.io.ZOrder.zdecode3(
        graft.io.ZOrder.zvalue3(col("user_id") % 2048L, col("event_id") % 2048L,
          unix_micros(col("ts")) % 2048L))
      t(s, dir, "events").select(col("event_id"),
          da.as("a2"), db.as("b2"), ta.as("a3"), tb.as("b3"), tc.as("c3"))
        .orderBy(col("event_id"))
    }),

    // A17 — hour-of-day activity profile per event type (UTC session
    // so both engines bucket identically): seasonality diagnostics.
    "a17_hourly_profile" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(hour(col("ts")).cast("long").as("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"), Exprs.dsum(col("value"), 2).as("sum_value"))
        .orderBy(col("hr"), col("event_type"))),

    // A16 — cohort retention: users bucketed by first-activity week,
    // counted distinct in each later week — two linear aggregations
    // and a broadcast-sized cohort join, never a per-user sequence.
    "a16_cohort_retention" -> ((s, dir) => {
      val weeks = t(s, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts) div 604800000000").as("week"))
        .distinct()
      val cohorts = weeks.groupBy(col("user_id")).agg(min(col("week")).as("cohort"))
      weeks.join(cohorts, "user_id")
        .groupBy(col("cohort"), (col("week") - col("cohort")).as("weeks_since"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort"), col("weeks_since"))
    }),

    // X9 — event-type transition counts: per user, consecutive event
    // pairs in time order (the behavior bigram model input). One
    // window over (user, ts) + one aggregation.
    "x9_transitions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("next_type"))
    }),

    // X10 — weighted PageRank over the event-transition graph (the x9
    // bigram counts as edges): exact parts-per-billion integer ranks,
    // 3 unrolled iterations replayed bit-for-bit by the oracle.
    "x10_pagerank" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val edges = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
      Ops.pageRank(edges, "event_type", "next_type", Some("n"), iters = 3)
        .orderBy(col("node"))
    }),

    // X11 — gap-filled daily resample: per-user day grid from first to
    // last activity with zero-filled quiet days — the time-series
    // regularization every activity model needs before windowed
    // features. explode(sequence) is map-side and proportional to each
    // user's own span; the join is a per-user-day equi-join. Dates
    // travel as strings so both engines compare the same rendering.
    "x11_gapfill_daily" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("__d"))
        .groupBy(col("user_id"), col("__d")).agg(count(lit(1)).as("__n"))
      val spans = daily.groupBy(col("user_id"))
        .agg(min(col("__d")).as("__d0"), max(col("__d")).as("__d1"))
      spans.select(col("user_id"),
          explode(sequence(col("__d0"), col("__d1"))).as("__d"))
        .join(daily, Seq("user_id", "__d"), "left")
        .select(col("user_id"), col("__d").cast("string").as("d"),
          coalesce(col("__n"), lit(0L)).as("n_events"))
        .orderBy(col("user_id"), col("d"))
    }),

    // X21 — inter-arrival anomaly report: per event TYPE, the robust
    // median/MAD profile of user-level inter-event gaps (micros) with
    // the |gap - med| > 2*MAD outlier count — burst/stall detection
    // that a mean/stddev rule would let one huge gap drag. Composes
    // the lag window with CorpusStats.robustOutliers (exact integer
    // order statistics).
    "x21_interarrival_mad" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gaps = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("__prev", lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("__prev").isNotNull)
        .select(col("event_type"), col("event_id"),
          (unix_micros(col("ts")) - col("__prev")).as("gap_us"))
      graft.llm.CorpusStats.robustOutliers(gaps, "event_type", "gap_us",
          "event_id", k = 2)
        .orderBy(col("event_type"))
    }),

    // X18 — multi-touch attribution: every click in the 3 days before
    // a purchase shares the credit — 1000 per-mille split by integer
    // div with the remainder to the LAST touch, so credits sum to
    // exactly 1000 per purchase at any touch count. Per-user equi-join
    // + time predicate (fanout bounded by a user's window activity),
    // one purchase-keyed window for count/recency rank.
    "x18_attribution_multitouch" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("c_id"))
      val touches = purchases.join(clicks, Seq("user_id"))
        .filter(col("c_ts") <= col("p_ts") &&
          col("c_ts") > col("p_ts") - expr("INTERVAL 3 DAYS"))
      val wp = Window.partitionBy(col("p_id"))
      val byRecency = wp.orderBy(col("c_ts").desc, col("c_id").desc)
      touches
        .withColumn("__n", count(lit(1)).over(wp))
        .withColumn("__rn", row_number().over(byRecency))
        .withColumn("credit_pm", expr("1000 div __n") +
          when(col("__rn") === 1, expr("1000 % __n")).otherwise(0L))
        .select(col("p_id"), col("c_id"), col("__n").as("n_touches"),
          col("credit_pm"))
        .orderBy(col("p_id"), col("c_id"))
    }),

    // X17 — linear interpolation over the gap-filled daily grid: a
    // missing day takes v0 + (v1-v0)*(d-d0) div (d1-d0) between its
    // neighboring observed days — EXACT integer cents end to end
    // (daily sums decompose into integer cents the dsum way, the
    // interpolation is one integer truncating division), so the series
    // replays bit-for-bit. Two windows over ONE user exchange:
    // forward-fill [unbounded, current] and backfill [current,
    // unbounded], both IGNORE NULLS.
    "x17_interpolate_daily" -> ((s, dir) => {
      val cents = (floor(col("value")).cast("long") * 100 +
        round((col("value") - floor(col("value"))) * 100).cast("long"))
      val daily = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("__d"), cents.as("__c"))
        .groupBy(col("user_id"), col("__d")).agg(sum(col("__c")).as("__vc"))
      val spans = daily.groupBy(col("user_id"))
        .agg(min(col("__d")).as("__d0"), max(col("__d")).as("__d1"))
      val grid = spans.select(col("user_id"),
          explode(sequence(col("__d0"), col("__d1"))).as("__d"))
        .join(daily, Seq("user_id", "__d"), "left")
      val w = Window.partitionBy(col("user_id")).orderBy(col("__d"))
      val back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      grid
        .withColumn("__pd", last(when(col("__vc").isNotNull, col("__d")),
          ignoreNulls = true).over(back))
        .withColumn("__v0", last(col("__vc"), ignoreNulls = true).over(back))
        .withColumn("__nd", first(when(col("__vc").isNotNull, col("__d")),
          ignoreNulls = true).over(fwd))
        .withColumn("__v1", first(col("__vc"), ignoreNulls = true).over(fwd))
        .withColumn("v_cents", when(col("__vc").isNotNull, col("__vc"))
          .otherwise(expr("__v0 + ((__v1 - __v0) * datediff(__d, __pd))" +
            " div datediff(__nd, __pd)")))
        .select(col("user_id"), col("__d").cast("string").as("d"),
          col("__vc").isNotNull.as("observed"), col("v_cents"))
        .orderBy(col("user_id"), col("d"))
    }),

    // X12 — rolling 7-day window features: per event, the same user's
    // event count and EXACT value sum over the trailing week — a RANGE
    // frame on event-time micros (not ROWS: simultaneous events must
    // share a frame), the standard feature-engineering shape. One hash
    // exchange + per-user sort; the float sum uses the exact-decimal
    // split (Exprs.dsumOver) so the rolling sum is deterministic.
    "x12_rolling_7d" -> ((s, dir) => {
      val us = unix_micros(col("ts"))
      val w = Window.partitionBy(col("user_id")).orderBy(us)
        .rangeBetween(-604800000000L, 0L)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_7d"),
          graft.expr.Exprs.dsumOver(col("value"), 2, w).as("sum_value_7d"))
        .orderBy(col("event_id"))
    }),

    // X15 — SFT pair explosion: every turn with history becomes one
    // (context, response) training example — context is the md5 of the
    // time-ordered transcript STRICTLY BEFORE the turn (rows frame
    // ending at -1), so examples are causal by construction. One
    // exchange on user_id; the frame walk is a single ordered pass.
    "x15_sft_pairs" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val ctx = w.rowsBetween(Window.unboundedPreceding, -1)
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          concat(col("event_type"), lit(": "),
            coalesce(col("props"), lit(""))).as("turn"))
        .withColumn("n_context", count(lit(1)).over(ctx))
        .withColumn("context_hash",
          md5(concat_ws("\n", collect_list(col("turn")).over(ctx))))
        .withColumn("response_hash", md5(col("turn")))
        .filter(col("n_context") >= 1)
        .select(col("user_id"), col("event_id"), col("n_context"),
          col("context_hash"), col("response_hash"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // K11 — storage audit of a freshly written partitioned dataset:
    // one row per partition dir with rows / files / key range. The
    // repartition-on-shard before the write pins exactly one file per
    // dir, so the audit is deterministic; the oracle predicts it from
    // the table alone.
    "k11_file_audit" -> ((s, dir) => {
      val path = graft.util.Scratch.dir("graft_audit")
      val docs = t(s, dir, "documents")
        .withColumn("shard", pmod(col("doc_id"), lit(8)))
        .repartition(col("shard"))
      Tables.writePartitioned(docs, path, Seq("shard"))
      Tables.fileAudit(s, path, "doc_id").orderBy(col("part_dir"))
    }),

    // X16 — join-blowup audit on the events⋈events(user_id) self-join:
    // per-key output cardinalities + per-mille share, top-10. The
    // pre-shuffle skew check a 100 TB join runs first.
    "x16_join_blowup" -> ((s, dir) => {
      val e = t(s, dir, "events")
      Ops.joinBlowupEstimate(e, e, "user_id", "user_id", k = 10)
    }),

    // X14 — per-node triangle counts over the (undirected) event-
    // transition graph: degree-ordered orientation, wedges bounded by
    // forward degree, exact per-node attribution incl. zero rows.
    "x14_triangles" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val edges = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .select(col("event_type"), col("next_type"))
      Ops.triangleCounts(edges, "event_type", "next_type")
        .orderBy(col("node"))
    }),

    // X13 — SFT conversation assembly: per-user time-ordered
    // (role: content) transcript hash + the role-alternation audit
    // (adjacent same-role turns are the rows a chat formatter must
    // merge). One exchange on user_id serves lag window and rollup.
    "x13_sft_assembly" -> ((s, dir) =>
      Ops.sftConversations(t(s, dir, "events"), "user_id", "ts", "event_id",
        "event_type", "props")
        .orderBy(col("user_id"))),

    // X8 — funnel analysis: users completing each prefix of
    // signup -> view -> click -> purchase with earliest-completion
    // semantics (each step strictly after the previous one's time).
    "x8_funnel" -> ((s, dir) =>
      Ops.funnel(t(s, dir, "events"), "user_id", "event_type", "ts",
        Seq("signup", "view", "click", "purchase"))),

    // X8b — sessionized funnel: each step must land within 3 days of
    // the previous step's (earliest) completion — the conversion-
    // window convention every product-analytics funnel applies. At
    // sf0.01 the window genuinely bites: 150/105/79/55 vs the
    // unwindowed 150/150/150/150.
    "x8_funnel_windowed" -> ((s, dir) =>
      Ops.funnel(t(s, dir, "events"), "user_id", "event_type", "ts",
        Seq("signup", "view", "click", "purchase"),
        maxGap = Some(expr("INTERVAL 3 DAYS")))),

    // X8c — the single-pass formulation (one scan of the log
    // regardless of step count); shares x8_funnel's oracle — same
    // answer, different physical shape (OpsSpec proves equality,
    // windowed included).
    "x8_funnel_1pass" -> ((s, dir) =>
      Ops.funnelSinglePass(t(s, dir, "events"), "user_id", "event_type", "ts",
        Seq("signup", "view", "click", "purchase"))),

    // X8d — time-to-convert: per completed step, elapsed time from
    // step-0 completion in EXACT integer microseconds (sum + max;
    // mean = sum/n for the consumer) under the same 3-day conversion
    // window as x8_funnel_windowed. One scan — the timings are a
    // projection over the single-pass fold's completion array.
    "x8_funnel_timing" -> ((s, dir) =>
      Ops.funnelTimings(t(s, dir, "events"), "user_id", "event_type", "ts",
        Seq("signup", "view", "click", "purchase"),
        maxGap = Some(expr("INTERVAL 3 DAYS")))),

    // K9 — Z-order clustering keys (io.ZOrder): the 2-D and 3-D Morton
    // interleaves behind writeZOrdered, checked value-for-value — pure
    // 64-bit integer bit math, so DuckDB replays it exactly. The layout
    // contract (files cover compact multi-dim regions) is asserted in
    // ZOrderSpec; this row pins the curve itself.
    "k9_zorder_keys" -> ((s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        graft.io.ZOrder.zvalue2(
          col("user_id") % 1048576L, col("event_id") % 1048576L).as("z2"),
        graft.io.ZOrder.zvalue3(
          col("user_id") % 2048L, col("event_id") % 2048L,
          unix_micros(col("ts")) % 2048L).as("z3"))
        .orderBy(col("event_id"))))

  /** §2.8 checks used by a9/v queries. */
  private def eventChecks: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "bad_type" -> (col("event_type") === "error"),
    "value_range" -> (col("value") > 450))

  /** PageRank oracle: the x9 transition CTE as the edge list, then
    * `iters` unrolled exact-integer iterations (mirrors Ops.pageRank:
    * contribution r·n div W, update (15·base + 85·c) div 100). */
  private def PageRankOracleSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""c$i AS (SELECT tr.next_type AS node,
         |  CAST(sum(r${i - 1}.r * tr.n // outw.W) AS BIGINT) AS c
         |  FROM tr JOIN outw ON tr.event_type = outw.src
         |  JOIN r${i - 1} ON r${i - 1}.node = tr.event_type GROUP BY 1),
         |r$i AS (SELECT nodes.node,
         |  (15 * (SELECT base FROM b) + 85 * coalesce(c$i.c, 0)) // 100 AS r
         |  FROM nodes LEFT JOIN c$i USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH tr AS (
       |  SELECT event_type, next_type, count(*)::BIGINT AS n FROM (
       |    SELECT event_type, lead(event_type, 1) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id) AS next_type
       |    FROM events) t
       |  WHERE next_type IS NOT NULL GROUP BY event_type, next_type),
       |nodes AS (SELECT DISTINCT node FROM (
       |  SELECT event_type AS node FROM tr
       |  UNION ALL SELECT next_type FROM tr) u),
       |b AS (SELECT 1000000000 // count(*) AS base FROM nodes),
       |outw AS (SELECT event_type AS src, CAST(sum(n) AS BIGINT) AS W
       |  FROM tr GROUP BY 1),
       |r0 AS (SELECT node, (SELECT base FROM b)::BIGINT AS r FROM nodes),
       |$rounds
       |SELECT node, r::BIGINT AS rank_ppb FROM r$iters ORDER BY node""".stripMargin
  }

  /** Shared funnel-chain CTEs (`gapFmt` carries the per-step
    * conversion-window clause with a %d for the previous step index). */
  private def funnelCtes(gapFmt: String): String = {
    def gap(prev: Int) = gapFmt.format(prev)
    s"""s0 AS (SELECT user_id, min(ts) AS t FROM events
       |  WHERE event_type = 'signup' GROUP BY 1),
       |s1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
       |  JOIN s0 USING (user_id)
       |  WHERE e.event_type = 'view' AND e.ts > s0.t${gap(0)} GROUP BY 1),
       |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
       |  JOIN s1 USING (user_id)
       |  WHERE e.event_type = 'click' AND e.ts > s1.t${gap(1)} GROUP BY 1),
       |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
       |  JOIN s2 USING (user_id)
       |  WHERE e.event_type = 'purchase' AND e.ts > s2.t${gap(2)} GROUP BY 1)""".stripMargin
  }

  /** Funnel oracle, shared by x8_funnel / x8_funnel_1pass (no window)
    * and x8_funnel_windowed. */
  private def FunnelOracleSql(gapFmt: String): String =
    s"""WITH ${funnelCtes(gapFmt)}
       |SELECT 0::BIGINT AS step_idx, 'signup' AS step, (SELECT count(*) FROM s0)::BIGINT AS n_keys
       |UNION ALL SELECT 1, 'view', (SELECT count(*) FROM s1)
       |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
       |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
       |ORDER BY step_idx""".stripMargin

  /** Time-to-convert oracle: elapsed micros from the step-0 completion
    * per reached step, exact integers (sum + max). */
  private def FunnelTimingOracleSql(gapFmt: String): String = {
    def arm(i: Int, name: String) =
      s"""SELECT $i, '$name', (SELECT count(*) FROM s$i),
         |  coalesce((SELECT sum(epoch_us(s$i.t) - epoch_us(s0.t))
         |    FROM s$i JOIN s0 USING (user_id)), 0)::BIGINT,
         |  coalesce((SELECT max(epoch_us(s$i.t) - epoch_us(s0.t))
         |    FROM s$i JOIN s0 USING (user_id)), 0)::BIGINT""".stripMargin
    s"""WITH ${funnelCtes(gapFmt)}
       |SELECT 0::BIGINT AS step_idx, 'signup' AS step,
       |  (SELECT count(*) FROM s0)::BIGINT AS n_keys,
       |  0::BIGINT AS sum_us, 0::BIGINT AS max_us
       |UNION ALL ${arm(1, "view")}
       |UNION ALL ${arm(2, "click")}
       |UNION ALL ${arm(3, "purchase")}
       |ORDER BY step_idx""".stripMargin
  }

  /** DuckDB replay of Exprs.dsum(e, scale): exact decimal sums of the
    * integer and fractional parts, recombined in double at the end —
    * the same recipe the a8/x3 oracles write inline. */
  private def duckDsum(e: String, scale: Int): String = {
    val m = math.pow(10, scale).toLong
    s"(CAST(sum(CAST(floor($e) AS DECIMAL(38,0))) AS DOUBLE) + " +
      s"CAST(sum(CAST(round(($e - floor($e)) * $m) AS DECIMAL(38,0))) AS DOUBLE) / $m.0)"
  }

  /** DuckDB text of ZOrder.spread1/spread2 — same mask-spread sequence,
    * same two's-complement BIGINT ops, so values match Spark exactly. */
  private def duckSpread1(e: String): String =
    Seq(16 -> 0x0000FFFF0000FFFFL, 8 -> 0x00FF00FF00FF00FFL,
      4 -> 0x0F0F0F0F0F0F0F0FL, 2 -> 0x3333333333333333L,
      1 -> 0x5555555555555555L)
      .foldLeft(s"($e & 4294967295)") { case (x, (s, m)) =>
        s"((($x | ($x << $s)) & $m))" }
  private def duckSpread2(e: String): String =
    Seq(32 -> 0x001F00000000FFFFL, 16 -> 0x001F0000FF0000FFL,
      8 -> 0x100F00F00F00F00FL, 4 -> 0x10C30C30C30C30C3L,
      2 -> 0x1249249249249249L)
      .foldLeft(s"($e & 2097151)") { case (x, (s, m)) =>
        s"((($x | ($x << $s)) & $m))" }

  val oracle: Seq[(String, String)] = Seq(
    "w1_dedup_keep_latest" ->
      """SELECT event_id, ts, user_id, event_type, value, props FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) rn
        |  FROM events) t WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "w1_dedup_stats" ->
      """WITH ranked AS (
        |  SELECT user_id, event_type, event_id,
        |    row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id, event_type) AS dup_count
        |  FROM events)
        |SELECT user_id, event_type, dup_count, dup_count - 1 AS removed_count,
        |  max(CASE WHEN rn = 1 THEN event_id END) AS kept_id,
        |  array_to_string(list_sort(list(event_id::VARCHAR)), ',') AS ids
        |FROM ranked WHERE dup_count > 1
        |GROUP BY user_id, event_type, dup_count
        |ORDER BY user_id, event_type""".stripMargin,
    "w2_top1_per_group" ->
      """SELECT user_id, event_id, value FROM (
        |  SELECT user_id, event_id, value, row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) rn
        |  FROM events) t WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "a1_duplicate_key_detail" ->
      """SELECT user_id, count(*) AS cnt, array_to_string(list_sort(list(event_id::VARCHAR)), ',') AS ids
        |FROM events GROUP BY user_id HAVING count(*) > 1 ORDER BY user_id""".stripMargin,
    "a2_conditional_aggs" ->
      """SELECT count(*) AS total,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
        |  count(CASE WHEN value > 300 THEN 1 END) AS high_value,
        |  CAST(sum(CAST(floor(value) AS DECIMAL(38,0))) AS DOUBLE) + CAST(sum(CAST(round((value - floor(value)) * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS sum_value
        |FROM events""".stripMargin,
    "a3_count_star" -> "SELECT count(*) AS cnt FROM lineitem",
    "a4_group_count" ->
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type ORDER BY event_type",
    "a4_rollup" ->
      """SELECT event_type, count(*) AS cnt FROM events
        |GROUP BY ROLLUP (event_type) ORDER BY event_type NULLS FIRST""".stripMargin,
    "a5_group_by_bool" ->
      "SELECT (c_acctbal > 2500) AS positive, count(*) AS cnt FROM customer GROUP BY 1 ORDER BY positive",
    "a6_filtered_count" ->
      "SELECT count(*) AS cnt FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'",
    "a7_having_dups" ->
      "SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey HAVING count(*) > 1 ORDER BY o_custkey",
    "a8_summary_stats" ->
      """SELECT cnt, min_v, max_v, sum_v, sum_v / cnt AS mean_v,
        |  sqrt(greatest(0.0, (sum_sq - sum_v * sum_v / cnt) / (cnt - 1))) AS std_v
        |FROM (SELECT count(l_extendedprice) AS cnt,
        |  CAST(min(l_extendedprice) AS DOUBLE) AS min_v,
        |  CAST(max(l_extendedprice) AS DOUBLE) AS max_v,
        |  CAST(sum(CAST(floor(l_extendedprice) AS DECIMAL(38,0))) AS DOUBLE) + CAST(sum(CAST(round((l_extendedprice - floor(l_extendedprice)) * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS sum_v,
        |  CAST(sum(CAST(floor(l_extendedprice * l_extendedprice) AS DECIMAL(38,0))) AS DOUBLE) + CAST(sum(CAST(round((l_extendedprice * l_extendedprice - floor(l_extendedprice * l_extendedprice)) * 10000) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS sum_sq
        |  FROM lineitem) t""".stripMargin,
    "a15_exact_corr" ->
      s"""SELECT n, (n * sxy - sx * sy) /
         |    sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr
         |FROM (SELECT count(*) AS n,
         |  ${duckDsum("l_quantity", 2)} AS sx,
         |  ${duckDsum("l_extendedprice", 2)} AS sy,
         |  ${duckDsum("l_quantity * l_quantity", 4)} AS sxx,
         |  ${duckDsum("l_extendedprice * l_extendedprice", 4)} AS syy,
         |  ${duckDsum("l_quantity * l_extendedprice", 4)} AS sxy
         |  FROM lineitem) t""".stripMargin,
    "a14_group_describe" ->
      """SELECT l_returnflag, cnt, min_v, max_v, sum_v, sum_v / cnt AS mean_v,
        |  sqrt(greatest(0.0, (sum_sq - sum_v * sum_v / cnt) / (cnt - 1))) AS std_v
        |FROM (SELECT l_returnflag, count(l_extendedprice) AS cnt,
        |  CAST(min(l_extendedprice) AS DOUBLE) AS min_v,
        |  CAST(max(l_extendedprice) AS DOUBLE) AS max_v,
        |  CAST(sum(CAST(floor(l_extendedprice) AS DECIMAL(38,0))) AS DOUBLE) + CAST(sum(CAST(round((l_extendedprice - floor(l_extendedprice)) * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS sum_v,
        |  CAST(sum(CAST(floor(l_extendedprice * l_extendedprice) AS DECIMAL(38,0))) AS DOUBLE) + CAST(sum(CAST(round((l_extendedprice * l_extendedprice - floor(l_extendedprice * l_extendedprice)) * 10000) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS sum_sq
        |  FROM lineitem GROUP BY l_returnflag) t
        |ORDER BY l_returnflag""".stripMargin,
    "a8_quantiles" ->
      """SELECT count(l_extendedprice) AS cnt, min(l_extendedprice) AS min_v,
        |  quantile_cont(l_extendedprice, 0.25) AS q1,
        |  quantile_cont(l_extendedprice, 0.5) AS median,
        |  quantile_cont(l_extendedprice, 0.75) AS q3,
        |  max(l_extendedprice) AS max_v
        |FROM lineitem""".stripMargin,
    "a9_validation_report" ->
      """SELECT total, valid, invalid,
        |  CASE WHEN total = 0 THEN 0.0 ELSE valid * 100.0 / total END AS success_rate
        |FROM (SELECT count(*) AS total,
        |  count(CASE WHEN NOT (event_type = 'error' OR value > 450) THEN 1 END) AS valid,
        |  count(CASE WHEN event_type = 'error' OR value > 450 THEN 1 END) AS invalid
        |  FROM events) t""".stripMargin,
    "a10_null_counts" ->
      """SELECT count(CASE WHEN nullif(event_type, 'error') IS NULL THEN 1 END) AS null_type,
        |  count(CASE WHEN (CASE WHEN value > 400 THEN NULL ELSE value END) IS NULL THEN 1 END) AS null_value
        |FROM events""".stripMargin,
    "j1_enrich_left_outer" ->
      """SELECT o_orderkey, o_custkey,
        |  coalesce(c_name, 'unknown') AS cust_name,
        |  coalesce(c_mktsegment, 'NONE') AS segment,
        |  (c_custkey IS NOT NULL) AS has_customer,
        |  CASE WHEN c_custkey IS NOT NULL AND c_acctbal >= 2500 THEN 'database'
        |       WHEN c_custkey IS NOT NULL THEN 'auth' ELSE 'none' END AS auth_source
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey""".stripMargin,
    "j2_anti_conflict_rewrite" ->
      """SELECT event_id, user_id,
        |  CASE WHEN user_id IN (SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0)
        |       THEN substr(md5('conflict:' || event_id::VARCHAR), 1, 20)
        |       ELSE user_id::VARCHAR END AS resolved_key
        |FROM events ORDER BY event_id""".stripMargin,
    "j3_dup_group_window" ->
      """SELECT o_orderkey, o_custkey, cnt FROM (
        |  SELECT o_orderkey, o_custkey, count(*) OVER (PARTITION BY o_custkey) cnt FROM orders) t
        |WHERE cnt > 1 ORDER BY o_orderkey""".stripMargin,
    "p_enrich_projection" ->
      """SELECT c_custkey,
        |  coalesce(nullif(trim(c_name), ''), 'unknown') AS name_clean,
        |  CASE WHEN c_acctbal < 1000 THEN 'google_user_' || c_custkey::VARCHAR || '@placeholder.com'
        |       ELSE lower(replace(c_name, '#', '.')) || '@example.com' END AS email,
        |  substr(c_name, 1, 3) || '***' AS masked,
        |  (c_acctbal > 0) AS has_funds,
        |  CASE WHEN c_acctbal > 5000 THEN 'database' WHEN c_acctbal > 0 THEN 'auth' ELSE 'none' END AS auth_source
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "p10_interval_filter" ->
      """SELECT event_id, ts FROM events
        |WHERE ts >= TIMESTAMP '2024-02-10 00:00:00' - INTERVAL 30 DAY ORDER BY event_id""".stripMargin,
    "p11_pattern_filter" ->
      """SELECT p_partkey, p_name, p_type FROM part
        |WHERE lower(p_name) LIKE '%gear%' OR lower(p_type) LIKE '%econ%' ORDER BY p_partkey""".stripMargin,
    "s1_json_key_extract" ->
      """SELECT event_id, regexp_extract(props, '"k":\s*(\d+)', 1)::BIGINT AS k_value
        |FROM events ORDER BY event_id""".stripMargin,
    "s2_point_lookup" ->
      "SELECT event_id, ts, user_id, event_type, value, props FROM events WHERE event_id = 42",
    "s4_ordered_limit" ->
      "SELECT c_custkey, c_name, c_mktsegment FROM customer ORDER BY c_custkey LIMIT 10",
    // ground truth for the round-trip through the Datastore source: the
    // stub serves exactly `nation`, so the scan must reproduce it
    "s6_datastore_scan" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "sql_e2e_cleaning" ->
      """SELECT doc_id,
        |  CASE WHEN lower(trim(raw)) IN ('nan','null','none','','nat') THEN NULL ELSE trim(raw) END AS cleaned,
        |  CASE upper(trim(sraw))
        |    WHEN 'ACTIVE' THEN 'ACTIVE' WHEN 'ACTIF' THEN 'ACTIVE' WHEN 'ENABLED' THEN 'ACTIVE'
        |    WHEN 'INACTIVE' THEN 'INACTIVE' WHEN 'INACTIF' THEN 'INACTIVE' WHEN 'DISABLED' THEN 'INACTIVE'
        |    WHEN 'BANNED' THEN 'BANNED' WHEN 'BANNI' THEN 'BANNED' WHEN 'BLOCKED' THEN 'BANNED'
        |    ELSE 'ACTIVE' END AS status,
        |  substr(lang || '_' || doc_id::VARCHAR || '@example.com', 1, 3) || '***' AS masked,
        |  '{' || array_to_string(list_transform([lang, source, 'o''brien'],
        |    x -> '''' || replace(x, '''', '''''') || ''''), ',') || '}' AS pg_literal,
        |  array_to_string(list_filter(list_transform(
        |    string_split(lang || ', ' || source || ', ,', ','), x -> trim(x)),
        |    x -> x <> ''), '|') AS interests
        |FROM (SELECT doc_id, lang, source,
        |  (['  hello ','nan','NULL','','None','world  ','NaT','ok'])[(doc_id % 8 + 1)] AS raw,
        |  (['actif','BLOCKED','Enabled','banni',' inactive ','disabled','weird',NULL])[(doc_id % 8 + 1)] AS sraw
        |  FROM documents) t ORDER BY doc_id""".stripMargin,
    "o1_sort_nulls_first" ->
      """SELECT event_id, CASE WHEN value > 400 THEN NULL ELSE value END AS v
        |FROM events ORDER BY v ASC NULLS FIRST, event_id LIMIT 50""".stripMargin,
    "o3_topk" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20",
    "f2_array_clean" ->
      """SELECT event_id,
        |  CASE WHEN len(kept) = 0 THEN NULL ELSE array_to_string(kept, ',') END AS kept
        |FROM (SELECT event_id, list_filter(
        |    [nullif(event_type, 'error'), NULL, CASE WHEN event_id % 5 = 0 THEN NULL ELSE 'x' END],
        |    x -> x IS NOT NULL) AS kept FROM events) t ORDER BY event_id""".stripMargin,
    "f3_flexible_timestamp" ->
      """WITH r AS (SELECT event_id, CASE event_id % 8
        |    WHEN 0 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
        |    WHEN 1 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S')
        |    WHEN 2 THEN strftime(ts, '%Y-%m-%dT%H:%M:%SZ')
        |    WHEN 3 THEN strftime(ts, '%Y-%m-%d')
        |    WHEN 4 THEN (epoch_us(ts) // 1000000)::VARCHAR
        |    WHEN 5 THEN ((epoch_us(ts) // 1000000) * 1000 + 250)::VARCHAR
        |    WHEN 6 THEN '{"seconds": ' || (epoch_us(ts) // 1000000)::VARCHAR || ', "nanoseconds": 0}'
        |    ELSE 'nan' END AS raw FROM events),
        |c AS (SELECT event_id, raw,
        |  CASE WHEN lower(trim(raw)) IN ('nan','null','none','','nat') THEN NULL ELSE trim(raw) END AS s FROM r)
        |SELECT event_id, raw, coalesce(
        |  try_strptime(s, '%Y-%m-%d %H:%M:%S'),
        |  try_strptime(s, '%Y-%m-%dT%H:%M:%S'),
        |  try_strptime(s, '%Y-%m-%dT%H:%M:%S.%f'),
        |  try_strptime(s, '%Y-%m-%dT%H:%M:%SZ'),
        |  try_strptime(s, '%Y-%m-%d'),
        |  make_timestamp(try_cast(regexp_extract(s, '"seconds":\s*(-?\d+)', 1) AS BIGINT) * 1000000),
        |  CASE WHEN try_cast(s AS DOUBLE) > 10000000000 THEN make_timestamp(try_cast(s AS DOUBLE)::BIGINT * 1000)
        |       WHEN try_cast(s AS DOUBLE) > 0 THEN make_timestamp(try_cast(s AS DOUBLE)::BIGINT * 1000000) END
        |) AS parsed FROM c ORDER BY event_id""".stripMargin,
    "f5_parse_interests" ->
      """SELECT doc_id, array_to_string(arr, '|') AS interests, len(arr)::BIGINT AS n
        |FROM (SELECT doc_id, list_filter(list_transform(string_split(
        |    lang || ', ' || source || ', ,' || CASE WHEN doc_id % 3 = 0 THEN ' reading' ELSE '' END,
        |    ','), x -> trim(x)), x -> x <> '') AS arr FROM documents) t ORDER BY doc_id""".stripMargin,
    "f6_normalize_status" ->
      """SELECT doc_id, raw,
        |  CASE upper(trim(raw))
        |    WHEN 'ACTIVE' THEN 'ACTIVE' WHEN 'ACTIF' THEN 'ACTIVE' WHEN 'ENABLED' THEN 'ACTIVE'
        |    WHEN 'INACTIVE' THEN 'INACTIVE' WHEN 'INACTIF' THEN 'INACTIVE' WHEN 'DISABLED' THEN 'INACTIVE'
        |    WHEN 'BANNED' THEN 'BANNED' WHEN 'BANNI' THEN 'BANNED' WHEN 'BLOCKED' THEN 'BANNED'
        |    ELSE 'ACTIVE' END AS status
        |FROM (SELECT doc_id,
        |  (['actif','BLOCKED','Enabled','banni',' inactive ','disabled','weird',NULL])[(doc_id % 8 + 1)] AS raw
        |  FROM documents) t ORDER BY doc_id""".stripMargin,
    "f7_clean_string" ->
      """SELECT doc_id, raw,
        |  CASE WHEN lower(trim(raw)) IN ('nan','null','none','','nat') THEN NULL ELSE trim(raw) END AS cleaned
        |FROM (SELECT doc_id,
        |  (['  hello ','nan','NULL','','None','world  ','NaT','ok'])[(doc_id % 8 + 1)] AS raw
        |  FROM documents) t ORDER BY doc_id""".stripMargin,
    "f9_pg_array_literal" ->
      """SELECT c_custkey,
        |  '{' || array_to_string(list_transform([c_name, c_mktsegment, 'o''brien'],
        |    x -> '''' || replace(x, '''', '''''') || ''''), ',') || '}' AS pg_literal
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "f10_f11_defaults" ->
      """SELECT event_id,
        |  coalesce(CASE WHEN event_type = 'purchase' THEN NULL ELSE (value > 300) END, false) AS flag,
        |  coalesce(CASE WHEN user_id % 3 = 0 THEN NULL ELSE 'src' || (user_id % 3)::VARCHAR END, 'CREDENTIALS') AS provider,
        |  coalesce(CASE WHEN event_id % 4 = 0 THEN NULL ELSE ts END, TIMESTAMP '2024-01-01 00:00:00') AS ts_filled
        |FROM events ORDER BY event_id""".stripMargin,
    "f14_iso_format" ->
      "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso FROM orders ORDER BY o_orderkey",
    "f15_percent_guarded" ->
      """SELECT event_type, cnt, hi, CASE WHEN cnt = 0 THEN 0.0 ELSE hi * 100.0 / cnt END AS pct
        |FROM (SELECT event_type, count(*) AS cnt, count(CASE WHEN value > 300 THEN 1 END) AS hi
        |  FROM events GROUP BY event_type) t ORDER BY event_type""".stripMargin,
    "v_validation_flags" ->
      """SELECT event_id, event_type, value,
        |  coalesce(array_to_string(list_filter([CASE WHEN event_type = 'error' THEN 'bad_type' END,
        |    CASE WHEN value > 450 THEN 'value_range' END], x -> x IS NOT NULL), ';'), '') AS errs,
        |  (len(list_filter([CASE WHEN event_type = 'error' THEN 'bad_type' END,
        |    CASE WHEN value > 450 THEN 'value_range' END], x -> x IS NOT NULL)) = 0) AS valid
        |FROM events ORDER BY event_id""".stripMargin,
    "u_union_recombine" ->
      """SELECT event_id, event_type FROM (
        |  SELECT event_id, event_type FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT event_id, event_type FROM events WHERE event_type = 'signup') t
        |ORDER BY event_id""".stripMargin,
    "u2_multiset_ops" ->
      """WITH p AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
        |h AS (SELECT user_id FROM events WHERE value > 300),
        |x AS (SELECT user_id FROM events WHERE event_type = 'error' AND value > 200),
        |kept AS (SELECT user_id FROM (
        |  SELECT user_id FROM p INTERSECT ALL SELECT user_id FROM h) i
        |  EXCEPT ALL SELECT user_id FROM x)
        |SELECT user_id, count(*)::BIGINT AS n_kept FROM kept
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "o6_pagination" ->
      """SELECT doc_id, n_chars FROM documents
        |ORDER BY n_chars DESC, doc_id LIMIT 25 OFFSET 50""".stripMargin,
    "u_intersect_except" ->
      """SELECT user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'purchase'
        |  INTERSECT
        |  SELECT user_id FROM events WHERE value > 300
        |  EXCEPT
        |  SELECT user_id FROM events WHERE event_type = 'error' AND value > 420) t
        |ORDER BY user_id""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price, sum_charge,
        |  sum_qty / count_order AS avg_qty, sum_base_price / count_order AS avg_price,
        |  sum_disc / count_order AS avg_disc, count_order
        |FROM (SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(floor(l_extendedprice) AS DECIMAL(38,0))) AS DOUBLE) + CAST(sum(CAST(round((l_extendedprice - floor(l_extendedprice)) * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS sum_base_price,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)) AS DECIMAL(38,0))) AS DOUBLE) + CAST(sum(CAST(round((l_extendedprice * (1 - l_discount) - floor(l_extendedprice * (1 - l_discount))) * 10000) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS sum_disc_price,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS DECIMAL(38,0))) AS DOUBLE) + CAST(sum(CAST(round((l_extendedprice * (1 - l_discount) * (1 + l_tax) - floor(l_extendedprice * (1 - l_discount) * (1 + l_tax))) * 1000000) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sum_charge,
        |  CAST(sum(CAST(floor(l_discount) AS DECIMAL(38,0))) AS DOUBLE) + CAST(sum(CAST(round((l_discount - floor(l_discount)) * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS sum_disc,
        |  count(*) AS count_order
        |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00'
        |  GROUP BY l_returnflag, l_linestatus) t
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q5_local_volume" ->
      """SELECT n_name,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)) AS DECIMAL(38,0))) AS DOUBLE)
        |    + CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)
        |        - floor(l_extendedprice * (1 - l_discount))) * 10000) AS DECIMAL(38,0))) AS DOUBLE)
        |      / 10000.0 AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q18_large_orders" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty FROM lineitem
        |      GROUP BY l_orderkey HAVING sum(l_quantity) > 150) big
        |  ON o_orderkey = big.l_orderkey
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 20""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)) AS DECIMAL(38,0))) AS DOUBLE) + CAST(sum(CAST(round((l_extendedprice * (1 - l_discount) - floor(l_extendedprice * (1 - l_discount))) * 10000) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin,
    "a19_grouping_sets" ->
      """SELECT lang, source, count(*)::BIGINT AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY GROUPING SETS ((lang), (source), ())
        |ORDER BY lang NULLS LAST, source NULLS LAST""".stripMargin,
    "o5_distribution_windows" ->
      """SELECT doc_id, source, n_chars,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM documents
        |WINDOW w AS (PARTITION BY source ORDER BY n_chars, doc_id)
        |ORDER BY doc_id""".stripMargin,
    "j4_nullsafe_join" ->
      """WITH l AS (SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 3 THEN NULL ELSE lang END AS lk
        |  FROM documents),
        |r AS (SELECT CASE WHEN doc_id % 7 = 2 THEN NULL ELSE lang END AS rk,
        |    count(*)::BIGINT AS n_right
        |  FROM documents GROUP BY 1)
        |SELECT doc_id, lk, n_right FROM l JOIN r ON lk IS NOT DISTINCT FROM rk
        |ORDER BY doc_id""".stripMargin,
    "q22_sales_opportunity" ->
      """WITH pos AS (SELECT c_acctbal FROM customer WHERE c_acctbal > 0),
        |th AS (SELECT (CAST(sum(CAST(floor(c_acctbal) AS DECIMAL(38,0))) AS DOUBLE)
        |    + CAST(sum(CAST(round((c_acctbal - floor(c_acctbal)) * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100.0)
        |    / count(*) AS a FROM pos),
        |f AS (SELECT c.* FROM customer c, th WHERE c.c_acctbal > th.a
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'))
        |SELECT c_mktsegment, count(*)::BIGINT AS n_cust,
        |  CAST(sum(CAST(floor(c_acctbal) AS DECIMAL(38,0))) AS DOUBLE)
        |    + CAST(sum(CAST(round((c_acctbal - floor(c_acctbal)) * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS total_bal
        |FROM f GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q4_priority_semi" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS order_count
        |FROM orders WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)) AS DECIMAL(38,0))) AS DOUBLE) + CAST(sum(CAST(round((l_extendedprice * (1 - l_discount) - floor(l_extendedprice * (1 - l_discount))) * 10000) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q7_nation_volume" ->
      """SELECT supp_nation, cust_nation, CAST(year(l_shipdate) AS BIGINT) AS yr,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)) AS DECIMAL(38,0))) AS DOUBLE) + CAST(sum(CAST(round((l_extendedprice * (1 - l_discount) - floor(l_extendedprice * (1 - l_discount))) * 10000) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS revenue
        |FROM (SELECT l.l_shipdate, l.l_extendedprice, l.l_discount,
        |    n1.n_name AS supp_nation, n2.n_name AS cust_nation
        |  FROM lineitem l
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |  WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |     OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')) t
        |GROUP BY supp_nation, cust_nation, yr
        |ORDER BY supp_nation, cust_nation, yr""".stripMargin,
    "q19_disjunctive_revenue" ->
      """SELECT count(*)::BIGINT AS n_items,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)) AS DECIMAL(38,0))) AS DOUBLE) + CAST(sum(CAST(round((l_extendedprice * (1 - l_discount) - floor(l_extendedprice * (1 - l_discount))) * 10000) AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#12' AND l.l_quantity BETWEEN 1 AND 11 AND p.p_size BETWEEN 1 AND 5)
        |   OR (p.p_brand = 'Brand#23' AND l.l_quantity BETWEEN 10 AND 20 AND p.p_size BETWEEN 1 AND 10)
        |   OR (p.p_brand = 'Brand#34' AND l.l_quantity BETWEEN 20 AND 30 AND p.p_size BETWEEN 1 AND 15)""".stripMargin,
    "q16_brand_unsold" ->
      """SELECT p_brand, count(*)::BIGINT AS n_parts
        |FROM part
        |WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem
        |                        WHERE l_quantity >= 48)
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    "q17_small_qty_revenue" ->
      """WITH f AS (SELECT l_extendedprice
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE p.p_brand = 'Brand#23'
        |    AND l.l_quantity < (
        |      SELECT CAST(0.2 AS DOUBLE) *
        |             (CAST(sum(CAST(l2.l_quantity AS BIGINT)) AS DOUBLE)
        |              / count(*))
        |      FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey))
        |SELECT (CAST(sum(CAST(floor(l_extendedprice) AS DECIMAL(38,0))) AS DOUBLE)
        |  + CAST(sum(CAST(round((l_extendedprice - floor(l_extendedprice)) * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) / 7.0
        |  AS avg_yearly
        |FROM f""".stripMargin,
    "o4_window_analytics" ->
      """SELECT user_id, event_id,
        |  lag(event_id, 1) OVER w AS prev_event,
        |  lead(event_id, 1) OVER w AS next_event,
        |  CAST(sum(CAST(value AS DECIMAL(20,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value,
        |  rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS value_rank,
        |  ntile(4) OVER w AS quartile
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    "a11_pivot_counts" ->
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "f16_month_rollup" ->
      """SELECT date_trunc('month', o_orderdate) AS month,
        |  CAST(extract(year FROM o_orderdate) AS BIGINT) AS yr,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice) AS DECIMAL(38,0))) AS DOUBLE)
        |    + CAST(sum(CAST(round((o_totalprice - floor(o_totalprice)) * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS month_revenue
        |FROM orders GROUP BY 1, 2 ORDER BY month""".stripMargin,
    "a13_cube_counts" ->
      """SELECT event_type, (value > 250) AS high, count(*) AS cnt
        |FROM events GROUP BY CUBE (event_type, (value > 250))
        |ORDER BY event_type NULLS FIRST, high NULLS FIRST""".stripMargin,
    "s3_json_props_agg" ->
      """SELECT event_type, count(k) AS n_with_k, CAST(sum(k) AS BIGINT) AS sum_k,
        |  min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events) t
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a12_topk_per_user" ->
      """SELECT user_id,
        |  array_to_string((list(cents ORDER BY cents DESC))[1:3], ',') AS top3
        |FROM (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events) t
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "x1_asof_last_click" ->
      // LATERAL top-1 instead of ASOF JOIN: DuckDB's ASOF tie choice
      // among equal-ts clicks is unspecified; the explicit
      // (ts DESC, id DESC) order matches asofJoin's tieBreak rule.
      """SELECT p.user_id, p.ts, p.event_id, p.value, l.click_event_id
        |FROM (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN LATERAL (
        |  SELECT c.event_id AS click_event_id FROM events c
        |  WHERE c.event_type = 'click' AND c.user_id = p.user_id AND c.ts <= p.ts
        |  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) l ON TRUE
        |ORDER BY p.event_id""".stripMargin,
    "x1b_asof_next_view" ->
      """SELECT p.user_id, p.ts, p.event_id, p.value, l.view_event_id
        |FROM (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN LATERAL (
        |  SELECT v.event_id AS view_event_id FROM events v
        |  WHERE v.event_type = 'view' AND v.user_id = p.user_id AND v.ts >= p.ts
        |  ORDER BY v.ts ASC, v.event_id ASC LIMIT 1) l ON TRUE
        |ORDER BY p.event_id""".stripMargin,
    "x1c_asof_tolerant" ->
      """SELECT p.user_id, p.ts, p.event_id, p.value, l.click_event_id
        |FROM (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN LATERAL (
        |  SELECT c.event_id AS click_event_id FROM events c
        |  WHERE c.event_type = 'click' AND c.user_id = p.user_id
        |    AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
        |  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) l ON TRUE
        |ORDER BY p.event_id""".stripMargin,
    "x2_sessionize" ->
      """SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end
        |FROM (SELECT user_id, ts,
        |    CAST(sum(newsess) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM (SELECT user_id, ts,
        |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |        OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
        |           > 21600000000 THEN 1 ELSE 0 END AS newsess
        |    FROM events) t0) t1
        |GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "x4_session_window" ->
      """SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 21600 SECOND AS session_end, count(*) AS n_events
        |FROM (SELECT user_id, ts,
        |    CAST(sum(newsess) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM (SELECT user_id, ts,
        |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |        OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
        |           >= 21600000000 THEN 1 ELSE 0 END AS newsess
        |    FROM events) t0) t1
        |GROUP BY user_id, session_id ORDER BY user_id, session_start""".stripMargin,
    "x6_scd2_history" ->
      """SELECT user_id, event_id, ts AS valid_from,
        |  lead(ts, 1) OVER w AS valid_to,
        |  (lead(ts, 1) OVER w IS NULL) AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, valid_from, event_id""".stripMargin,
    "x5_upsert" ->
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000.0 ELSE c_acctbal END AS c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "x3_range_join_bands" ->
      """SELECT band, count(*) AS cnt,
        |  CAST(sum(CAST(floor(p_retailprice) AS DECIMAL(38,0))) AS DOUBLE)
        |    + CAST(sum(CAST(round((p_retailprice - floor(p_retailprice)) * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS sum_price
        |FROM part JOIN (VALUES
        |    ('budget', 900.0, 925.0), ('value', 925.0, 955.0),
        |    ('mid', 955.0, 975.0), ('premium', 975.0, 990.0),
        |    ('lux', 990.0, 1000.0), ('all_span', 900.0, 1000.0)) bands(band, lo, hi)
        |  ON p_retailprice >= lo AND p_retailprice < hi
        |GROUP BY band ORDER BY band""".stripMargin,
    "k10_zorder_roundtrip" ->
      """SELECT event_id,
        |  user_id % 1048576 AS a2, event_id % 1048576 AS b2,
        |  user_id % 2048 AS a3, event_id % 2048 AS b3,
        |  epoch_us(ts) % 2048 AS c3
        |FROM events ORDER BY event_id""".stripMargin,
    "a17_hourly_profile" ->
      s"""SELECT hour(ts) AS hr, event_type, count(*)::BIGINT AS n,
         |  ${duckDsum("value", 2)} AS sum_value
         |FROM events GROUP BY hr, event_type ORDER BY hr, event_type""".stripMargin,
    "a16_cohort_retention" ->
      """WITH w AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week
        |  FROM events),
        |c AS (SELECT user_id, min(week) AS cohort FROM w GROUP BY user_id)
        |SELECT cohort, week - cohort AS weeks_since,
        |  count(DISTINCT w.user_id)::BIGINT AS n_users
        |FROM w JOIN c USING (user_id)
        |GROUP BY cohort, weeks_since ORDER BY cohort, weeks_since""".stripMargin,
    "x9_transitions" ->
      """SELECT event_type, next_type, count(*)::BIGINT AS n FROM (
        |  SELECT event_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS next_type
        |  FROM events) t
        |WHERE next_type IS NOT NULL
        |GROUP BY event_type, next_type ORDER BY event_type, next_type""".stripMargin,
    "k11_file_audit" ->
      """SELECT 'shard=' || CAST(doc_id % 8 AS VARCHAR) AS part_dir,
        |  count(*)::BIGINT AS n_rows, 1::BIGINT AS n_files,
        |  min(doc_id)::BIGINT AS min_key, max(doc_id)::BIGINT AS max_key
        |FROM documents GROUP BY 1 ORDER BY part_dir""".stripMargin,
    "x15_sft_pairs" ->
      """WITH t AS (SELECT user_id, ts, event_id,
        |    event_type || ': ' || coalesce(props, '') AS turn FROM events),
        |p AS (SELECT user_id, event_id,
        |    count(*) OVER w AS n_context,
        |    md5(coalesce(string_agg(turn, chr(10)) OVER w, '')) AS context_hash,
        |    md5(turn) AS response_hash
        |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, n_context::BIGINT AS n_context,
        |  context_hash, response_hash
        |FROM p WHERE n_context >= 1 ORDER BY user_id, event_id""".stripMargin,
    "x16_join_blowup" ->
      """WITH c AS (SELECT user_id AS key, count(*)::BIGINT AS n
        |  FROM events GROUP BY user_id),
        |j AS (SELECT key, n AS nl, n AS nr, (n * n)::BIGINT AS out_rows FROM c),
        |t AS (SELECT CAST(sum(out_rows) AS BIGINT) AS tot FROM j)
        |SELECT key, nl, nr, out_rows,
        |  (out_rows * 1000) // tot AS share_pm
        |FROM j, t ORDER BY out_rows DESC, key LIMIT 10""".stripMargin,
    // naive sorted-triple enumeration — the triangle SET is
    // orientation-independent, so it must equal the degree-ordered
    // algorithm exactly
    "x14_triangles" ->
      """WITH tr AS (SELECT event_type AS s, next_type AS t FROM (
        |    SELECT event_type, lead(event_type, 1) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |    FROM events) q WHERE next_type IS NOT NULL),
        |und AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
        |  FROM tr WHERE s <> t),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM und e1
        |  JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
        |  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
        |nodes AS (SELECT a AS node FROM und UNION SELECT b FROM und),
        |cnt AS (SELECT n AS node, count(*)::BIGINT AS c FROM (
        |    SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
        |    UNION ALL SELECT z FROM tri) u GROUP BY n)
        |SELECT nodes.node AS node, coalesce(c, 0)::BIGINT AS n_triangles
        |FROM nodes LEFT JOIN cnt USING (node) ORDER BY node""".stripMargin,
    "x13_sft_assembly" ->
      """WITH t AS (SELECT user_id, ts, event_id, event_type AS role,
        |    event_type || ': ' || coalesce(props, '') AS turn,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM events)
        |SELECT user_id, count(*)::BIGINT AS n_turns,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND prev = role THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_repeats,
        |  md5(string_agg(turn, chr(10) ORDER BY ts, event_id)) AS convo_hash,
        |  (sum(CASE WHEN prev IS NOT NULL AND prev = role THEN 1 ELSE 0 END) = 0)
        |    AS alternation_ok
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin,
    "x8_funnel" -> FunnelOracleSql(""),
    "x8_funnel_1pass" -> FunnelOracleSql(""),
    "x8_funnel_windowed" -> FunnelOracleSql(" AND e.ts <= s%d.t + INTERVAL 3 DAY"),
    "x8_funnel_timing" -> FunnelTimingOracleSql(" AND e.ts <= s%d.t + INTERVAL 3 DAY"),
    "x10_pagerank" -> PageRankOracleSql(3),
    "x12_rolling_7d" ->
      """SELECT user_id, event_id,
        |  count(*) OVER w AS n_7d,
        |  (CAST(sum(CAST(floor(value) AS DECIMAL(38,0))) OVER w AS DOUBLE) +
        |   CAST(sum(CAST(round((value - floor(value)) * 100) AS DECIMAL(38,0))) OVER w AS DOUBLE)
        |     / 100.0) AS sum_value_7d
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "x11_gapfill_daily" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d, count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |spans AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
        |days AS (SELECT user_id,
        |    CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
        |      INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM spans)
        |SELECT days.user_id AS user_id, days.d::VARCHAR AS d,
        |  coalesce(n, 0)::BIGINT AS n_events
        |FROM days LEFT JOIN daily ON days.user_id = daily.user_id AND days.d = daily.d
        |ORDER BY 1, 2""".stripMargin,
    "x21_interarrival_mad" ->
      """WITH g AS (SELECT event_type, event_id,
        |    epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS v
        |  FROM events),
        |d1 AS (SELECT event_type, event_id, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM g WHERE v IS NOT NULL),
        |d1m AS (SELECT *, (n + 1) // 2 AS lo, n // 2 + 1 AS hi,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN v END) OVER (PARTITION BY event_type) +
        |    max(CASE WHEN rn = n // 2 + 1 THEN v END) OVER (PARTITION BY event_type) AS med2
        |  FROM d1),
        |d2 AS (SELECT *, abs(v * 2 - med2) AS dev2,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY abs(v * 2 - med2), event_id) AS rn2
        |  FROM d1m),
        |d2m AS (SELECT *, max(CASE WHEN rn2 = lo THEN dev2 END) OVER (PARTITION BY event_type) +
        |    max(CASE WHEN rn2 = hi THEN dev2 END) OVER (PARTITION BY event_type) AS mad4
        |  FROM d2)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  CAST(max(med2) AS BIGINT) AS med2, CAST(max(mad4) AS BIGINT) AS mad4,
        |  CAST(sum(CASE WHEN dev2 * 2 > 2 * mad4 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM d2m GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x18_attribution_multitouch" ->
      """WITH p AS (SELECT user_id, ts AS p_ts, event_id AS p_id FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts AS c_ts, event_id AS c_id FROM events
        |  WHERE event_type = 'click'),
        |touch AS (SELECT p.p_id, c.c_id, c.c_ts FROM p JOIN c USING (user_id)
        |  WHERE c.c_ts <= p.p_ts AND c.c_ts > p.p_ts - INTERVAL 3 DAY),
        |r AS (SELECT p_id, c_id,
        |    count(*) OVER (PARTITION BY p_id) AS n,
        |    row_number() OVER (PARTITION BY p_id ORDER BY c_ts DESC, c_id DESC)
        |      AS rn
        |  FROM touch)
        |SELECT p_id, c_id, CAST(n AS BIGINT) AS n_touches,
        |  (1000 // n) + CASE WHEN rn = 1 THEN 1000 % n ELSE 0 END AS credit_pm
        |FROM r ORDER BY p_id, c_id""".stripMargin,
    "x17_interpolate_daily" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(floor(value) AS BIGINT) * 100 +
        |      CAST(round((value - floor(value)) * 100) AS BIGINT)) AS BIGINT) AS vc
        |  FROM events GROUP BY 1, 2),
        |spans AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
        |days AS (SELECT user_id,
        |    CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
        |      INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM spans),
        |g AS (SELECT days.user_id AS user_id, days.d AS d, vc
        |  FROM days LEFT JOIN daily ON days.user_id = daily.user_id AND days.d = daily.d),
        |f AS (SELECT user_id, d, vc,
        |    last_value(CASE WHEN vc IS NOT NULL THEN d END IGNORE NULLS)
        |      OVER wb AS pd,
        |    last_value(vc IGNORE NULLS) OVER wb AS v0,
        |    first_value(CASE WHEN vc IS NOT NULL THEN d END IGNORE NULLS)
        |      OVER wf AS nd,
        |    first_value(vc IGNORE NULLS) OVER wf AS v1
        |  FROM g
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY user_id ORDER BY d
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, d::VARCHAR AS d, (vc IS NOT NULL) AS observed,
        |  CASE WHEN vc IS NOT NULL THEN vc
        |    ELSE v0 + ((v1 - v0) * (d - pd)) // (nd - pd) END AS v_cents
        |FROM f ORDER BY user_id, d""".stripMargin,
    "x7_preference_pairs" ->
      """WITH r AS (SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rb,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value ASC, event_id) AS rw
        |  FROM events),
        |p AS (SELECT user_id,
        |    max(CASE WHEN rb = 1 THEN event_id END) AS chosen,
        |    max(CASE WHEN rb = 1 THEN value END) AS chosen_score,
        |    max(CASE WHEN rw = 1 THEN event_id END) AS rejected,
        |    max(CASE WHEN rw = 1 THEN value END) AS rejected_score
        |  FROM r GROUP BY user_id)
        |SELECT user_id, chosen, rejected, chosen_score - rejected_score AS margin
        |FROM p WHERE chosen <> rejected AND chosen_score > rejected_score
        |ORDER BY user_id""".stripMargin,
    "k9_zorder_keys" -> {
      val z2 = s"(${duckSpread1("(user_id % 1048576)")} | " +
        s"(${duckSpread1("(event_id % 1048576)")} << 1))"
      val z3 = s"(${duckSpread2("(user_id % 2048)")} | " +
        s"(${duckSpread2("(event_id % 2048)")} << 1) | " +
        s"(${duckSpread2("(epoch_us(ts) % 2048)")} << 2))"
      s"SELECT event_id, $z2 AS z2, $z3 AS z3 FROM events ORDER BY event_id"
    })
}
