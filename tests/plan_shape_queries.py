"""Query bodies for the plan-shape checks in tests/test_plans.py that
are not registered queries.

Each function builds a DataFrame over the shared test corpus with the
helpers the registered queries use (``clickbom_spark.dialect``,
``clickbom_spark.ext.ranks``, the decimal and epoch helpers of
``clickbom_spark.queries``).  test_plans.py compiles them and checks
the physical plan: equi-joins instead of cartesian products, windows
partitioned by a bounded key, no Python boundary.  None of them is in
``REGISTRY``, so none has an oracle or a parity check.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from clickbom_spark.queries import load


def q_gini_token_concentration(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    f = (
        docs.where(F.col("text").isNotNull())
        .select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    g = f.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("m"))
    win = W.orderBy("c").rowsBetween(W.unboundedPreceding, -1)
    p = g.withColumn(
        "p", F.coalesce(F.sum("m").over(win), F.lit(0)).cast("long")
    )
    tot = g.agg(
        F.sum(F.col("c") * F.col("m")).cast("long").alias("total"),
        F.sum("m").cast("long").alias("n"),
    )
    num = (
        p.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("c") * F.col("m")
                * (F.lit(2) * F.col("p") + F.col("m") - F.col("n"))
            ).cast("long").alias("num")
        )
    )
    return (
        tot.crossJoin(F.broadcast(num))
        .select(
            F.col("n").alias("vocab"),
            F.col("total").alias("n_tokens"),
            F.round(
                F.col("num").cast("double")
                / (F.col("n") * F.col("total")).cast("double"),
                6,
            ).alias("gini"),
        )
    )


def q_doc_length_outliers(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("qx"),
        F.min("n_chars").cast("long").alias("lo"),
        F.max("n_chars").cast("long").alias("hi"),
    )
    dev = (F.col("n") * F.col("n_chars") - F.col("sx"))
    flagged = (
        docs.join(F.broadcast(s), "source")
        .groupBy("source", "n", "lo", "hi")
        .agg(
            F.sum(
                F.when(
                    dev * dev
                    > F.lit(4)
                    * F.col("n")
                    * (F.col("n") * F.col("qx") - F.col("sx") * F.col("sx")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_outliers")
        )
    )
    return flagged.select(
        "source", F.col("n").alias("n_docs"), "lo", "hi", "n_outliers"
    ).orderBy("source")


def q_session_gap_bands(spark, sf_dir):
    from clickbom_spark.queries import epoch_us

    (events,) = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = events.select(
        "event_type",
        (
            (epoch_us("ts") - F.lag(epoch_us("ts")).over(w))
            / F.lit(1000000)
        ).cast("long").alias("_div_hint"),
        ((epoch_us("ts") - F.lag(epoch_us("ts")).over(w)))
        .alias("gap_us"),
    ).drop("_div_hint")
    g = g.where(F.col("gap_us").isNotNull()).select(
        "event_type",
        F.expr("gap_us DIV 1000000").alias("gap_s"),
    )
    band = F.when(F.col("gap_s") == 0, F.lit(0)).otherwise(
        F.length(F.conv(F.col("gap_s").cast("string"), 10, 2))
    )
    return (
        g.select("event_type", band.cast("long").alias("band"))
        .groupBy("event_type", "band")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("event_type", "band")
    )


def q_market_basket_lift(spark, sf_dir):
    lineitem, part = load(spark, sf_dir, "lineitem", "part")
    b = (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    na = b.groupBy("p_brand").agg(F.count(F.lit(1)).cast("long").alias("n_a"))
    tot = b.agg(F.countDistinct("l_orderkey").cast("long").alias("n"))
    x = b.alias("x")
    y = b.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.p_brand") < F.col("y.p_brand")),
        )
        .groupBy(
            F.col("x.p_brand").alias("b1"), F.col("y.p_brand").alias("b2")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    a1 = na.select(F.col("p_brand").alias("b1"), F.col("n_a").alias("na1"))
    a2 = na.select(F.col("p_brand").alias("b2"), F.col("n_a").alias("na2"))
    ranked = (
        pairs.join(F.broadcast(a1), "b1")
        .join(F.broadcast(a2), "b2")
        .crossJoin(F.broadcast(tot))
        .select(
            "b1", "b2", "n_ab",
            F.round(
                (F.col("n_ab") * F.col("n")).cast("double")
                / (F.col("na1") * F.col("na2")).cast("double"),
                6,
            ).alias("lift"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                W.orderBy(F.desc("n_ab"), F.asc("b1"), F.asc("b2"))
            ),
        )
        .where(F.col("rk") <= 15)
        .drop("rk")
    )
    return ranked.orderBy(F.desc("n_ab"), "b1", "b2")


def q_nation_trade_matrix(spark, sf_dir):
    from clickbom_spark.queries import dec, dsum

    lineitem, orders, customer, nation, supplier = load(
        spark, sf_dir, "lineitem", "orders", "customer", "nation",
        "supplier",
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    # nation frames are bounded (25 rows) — hard-hint those; customer
    # and supplier GROW with SF, so their join strategy is left to
    # AQE's size check (broadcast at small SF, shuffle at scale) per
    # the repo broadcast policy (test_no_hard_broadcast_of_sf_growing
    # _tables)
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cnk"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("snk"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            dsum(rev, "revenue"),
        )
        .orderBy("cust_nation", "supp_nation")
    )


def q_repeat_customer_share(spark, sf_dir):
    (orders,) = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey")
    o = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.when(
            F.col("o_orderdate") > F.min("o_orderdate").over(w), 1
        ).otherwise(0).alias("rep"),
    )
    return (
        o.groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("rep").cast("long").alias("n_repeat"),
        )
        .select(
            "month", "n_orders", "n_repeat",
            F.round(
                F.col("n_repeat").cast("double") / F.col("n_orders"), 6
            ).alias("repeat_share"),
        )
        .orderBy("month")
    )


def q_inactive_customer_profile(spark, sf_dir):
    customer, orders = load(spark, sf_dir, "customer", "orders")
    seg = customer.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    inact = (
        customer.join(
            orders.select(F.col("o_custkey").alias("c_custkey")).distinct(),
            "c_custkey",
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_inactive"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
            .cast("long")
            .alias("bal_cents"),
        )
    )
    return (
        seg.join(inact, "c_mktsegment", "left")
        .select(
            F.col("c_mktsegment").alias("segment"),
            "n_customers",
            F.coalesce(F.col("n_inactive"), F.lit(0))
            .cast("long")
            .alias("n_inactive"),
            F.round(
                F.coalesce(F.col("n_inactive"), F.lit(0)).cast("double")
                / F.col("n_customers"),
                6,
            ).alias("inactive_share"),
            F.coalesce(F.col("bal_cents"), F.lit(0))
            .cast("long")
            .alias("inactive_bal_cents"),
        )
        .orderBy("segment")
    )


def q_emb_hypercube_density(spark, sf_dir):
    (emb,) = load(spark, sf_dir, "embeddings")
    code = sum(
        F.when(F.element_at("embedding", i + 1) > 0, 1 << i).otherwise(0)
        for i in range(8)
    )
    c = emb.select(
        "label", code.cast("long").alias("code")
    )
    lc = c.groupBy("code", "label").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    ct = c.groupBy("code").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("label").cast("long").alias("n_labels"),
    )
    maj = (
        lc.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("code").orderBy(F.desc("cnt"), F.asc("label"))
            ),
        )
        .where(F.col("rk") == 1)
        .select(
            "code",
            F.col("label").cast("long").alias("top_label"),
            F.col("cnt").alias("top_cnt"),
        )
    )
    return (
        ct.join(maj, "code")
        .select(
            "code", "n", "n_labels", "top_label",
            F.round(F.col("top_cnt").cast("double") / F.col("n"), 6)
            .alias("purity"),
        )
        .orderBy("code")
    )


_CH_DISTINCT_ON = """
SELECT DISTINCT ON (user_id) user_id, event_id, event_type,
       toInt64(round(value * 100)) AS cents
FROM events
ORDER BY user_id, event_id
"""


def q_dialect_distinct_on(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_DISTINCT_ON, sf_dir)
    return out.select(
        "user_id", "event_id", "event_type",
        F.col("cents").cast("long").alias("cents"),
    )


def q_source_overlap_matrix(spark, sf_dir):
    (docs,) = load(spark, sf_dir, "documents")
    v = (
        docs.where(F.col("text").isNotNull())
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .distinct()
    )
    sz = v.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("nv"))
    a = v.alias("a")
    b = v.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("s1"), F.col("b.source").alias("s2")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    z1 = sz.select(F.col("source").alias("s1"), F.col("nv").alias("nv1"))
    z2 = sz.select(F.col("source").alias("s2"), F.col("nv").alias("nv2"))
    return (
        inter.join(F.broadcast(z1), "s1")
        .join(F.broadcast(z2), "s2")
        .select(
            "s1", "s2", "inter",
            F.round(
                F.col("inter").cast("double")
                / (F.col("nv1") + F.col("nv2") - F.col("inter"))
                .cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy("s1", "s2")
    )


def q_emb_dim_sign_balance(spark, sf_dir):
    (emb,) = load(spark, sf_dir, "embeddings")
    q = emb.select(F.posexplode("embedding").alias("pos", "x")).select(
        (F.col("pos") + 1).cast("long").alias("dim"), "x"
    )
    return (
        q.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("x") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
            F.sum(F.when(F.col("x") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_zero"),
        )
        .select(
            "dim", "n", "n_pos", "n_zero",
            F.round(F.col("n_pos").cast("double") / F.col("n"), 6)
            .alias("pos_share"),
        )
        .orderBy("dim")
    )


def q_event_gap_percentiles_by_type(spark, sf_dir):
    from clickbom_spark.queries import epoch_us

    (events,) = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = events.select(
        "event_type",
        (epoch_us("ts") - F.lag(epoch_us("ts")).over(w)).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull()).select(
        "event_type", F.expr("gap_us DIV 1000000").alias("gap_s")
    )
    return (
        g.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.expr("percentile(gap_s, 0.25)").alias("p25"),
            F.expr("percentile(gap_s, 0.5)").alias("p50"),
            F.expr("percentile(gap_s, 0.75)").alias("p75"),
            F.max("gap_s").cast("long").alias("max_gap"),
        )
        .orderBy("event_type")
    )


def q_brand_share_by_nation(spark, sf_dir):
    lineitem, part, supplier, nation = load(
        spark, sf_dir, "lineitem", "part", "supplier", "nation"
    )
    b = (
        lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"), F.col("p_brand").alias("brand")
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    tot = b.groupBy("nation").agg(F.sum("cents").cast("long").alias("total"))
    rk = (
        b.join(F.broadcast(tot), "nation")
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("nation").orderBy(
                    F.desc("cents"), F.asc("brand")
                )
            ),
        )
        .where(F.col("rk") == 1)
    )
    return rk.select(
        "nation",
        F.col("brand").alias("top_brand"),
        "cents",
        F.round(F.col("cents").cast("double") / F.col("total"), 6)
        .alias("share"),
    ).orderBy("nation")


def q_ltv_log2_bands(spark, sf_dir):
    orders, customer = load(spark, sf_dir, "orders", "customer")
    ltv = (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("segment"), F.col("o_custkey")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    seg = ltv.groupBy("segment").agg(
        F.sum("cents").cast("long").alias("total")
    )
    band = (
        F.length(F.conv(F.col("cents").cast("string"), 10, 2)) - 1
    ).cast("long")
    return (
        ltv.join(F.broadcast(seg), "segment")
        .groupBy("segment", band.alias("band"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("cents"),
            F.max("total").alias("_tot"),
        )
        .select(
            "segment", "band", "n_customers", "cents",
            F.round(F.col("cents").cast("double") / F.col("_tot"), 6)
            .alias("revenue_share"),
        )
        .orderBy("segment", "band")
    )


_CH_SUMMAP_DAILY = """
SELECT event_type,
       arrayStringConcat(tupleElement(
         sumMap([toDayOfMonth(ts)], [toInt64(round(value * 100))]),
         1), ',') AS days,
       arrayStringConcat(tupleElement(
         sumMap([toDayOfMonth(ts)], [toInt64(round(value * 100))]),
         2), ',') AS cents
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_dialect_summap_daily(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_SUMMAP_DAILY, sf_dir)
    return out.select(
        "event_type",
        F.col("days").cast("string").alias("days"),
        F.col("cents").cast("string").alias("cents"),
    )


def q_event_type_cooccurrence(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    s = events.select(
        "user_id", F.to_date("ts").alias("d"), "event_type"
    ).distinct()
    a = s.alias("a")
    b = s.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.d") == F.col("b.d"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("t1"),
            F.col("b.event_type").alias("t2"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_user_days"))
        .orderBy("t1", "t2")
    )


def q_median_ci_orderstat(spark, sf_dir):
    # Scale shape: rank selection runs over the DISTINCT-VALUE frame
    # (one row per (event_type, cents) — bounded by the value domain,
    # not by event volume; the ext/ranks weighted-quantile pattern),
    # so the per-type cumulative window never sees raw rows.
    (events,) = load(spark, sf_dir, "events")
    vc = (
        events.select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    wcum = (
        W.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = vc.withColumn(
        "cum", F.sum("m").over(wcum).cast("long")
    )
    k = vc.groupBy("event_type").agg(
        F.sum("m").cast("long").alias("n")
    ).select(
        "event_type", "n",
        F.greatest(
            F.lit(1).cast("long"),
            F.floor(
                (F.col("n") - 1.959964 * F.sqrt(F.col("n"))) / 2
            ).cast("long"),
        ).alias("lo_k"),
        F.least(
            F.col("n"),
            F.ceil(
                1 + (F.col("n") + 1.959964 * F.sqrt(F.col("n"))) / 2
            ).cast("long"),
        ).alias("hi_k"),
        ((F.col("n") + 1) / 2).cast("long").alias("m1"),
        ((F.col("n") + 2) / 2).cast("long").alias("m2"),
    )
    j = cum.join(F.broadcast(k), "event_type")
    return (
        j.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            (
                (
                    F.min(F.when(F.col("cum") >= F.col("m1"),
                                 F.col("cents")))
                    + F.min(F.when(F.col("cum") >= F.col("m2"),
                                   F.col("cents")))
                ) / 2.0
            ).alias("median_cents"),
            F.min(F.when(F.col("cum") >= F.col("lo_k"), F.col("cents")))
            .alias("ci_lo_cents"),
            F.min(F.when(F.col("cum") >= F.col("hi_k"), F.col("cents")))
            .alias("ci_hi_cents"),
        )
        .orderBy("event_type")
    )


def q_user_spend_quartiles(spark, sf_dir):
    # Scale shape: the global rank comes from ext/ranks
    # with_global_rank (value-bucketed two-pass plan) — never a
    # total-order window over the user population.
    from clickbom_spark.ext.ranks import with_global_rank

    (events,) = load(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long").alias("cents")
    )
    ranked = with_global_rank(
        per_user, ["cents", "user_id"], rank_col="rn", total_col="n"
    )
    return (
        ranked.select(
            (((F.col("rn") - 1) * 4)
             .cast("long") / F.col("n")).cast("long")
            .alias("q0"),
            "cents",
        )
        .select((F.col("q0") + 1).cast("long").alias("quartile"), "cents")
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .orderBy("quartile")
    )


def q_lorenz_deciles(spark, sf_dir):
    # Scale shape: the global revenue rank is the ext/ranks
    # value-bucketed two-pass rank — no total-order window over the
    # order population; the only unpartitioned window below runs on
    # the 10-row decile aggregate.
    from clickbom_spark.ext.ranks import with_global_rank

    (orders,) = load(spark, sf_dir, "orders")
    ranked = with_global_rank(
        orders.select(
            F.round(F.col("o_totalprice") * 100).cast("long")
            .alias("cents"),
            "o_orderkey",
        ),
        ["cents", "o_orderkey"],
        rank_col="rn",
        total_col="n",
    )
    dec = (
        ranked.select(
            ((((F.col("rn") - 1) * 10).cast("long") / F.col("n"))
             .cast("long") + 1).alias("decile"),
            "cents",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )
    total = dec.agg(F.sum("cents").cast("long").alias("total"))
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return (
        dec.crossJoin(F.broadcast(total))
        .select(
            "decile", "n_orders", "cents",
            F.round(
                F.sum("cents").over(wc).cast("double")
                / F.col("total").cast("double"),
                6,
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


def q_emb_dim_sign_concordance(spark, sf_dir):
    (emb,) = load(spark, sf_dir, "embeddings")
    q = (
        emb.select(
            "vec_id", F.posexplode("embedding").alias("pos0", "x")
        )
        .where(F.col("pos0") < 8)
        .select(
            "vec_id",
            (F.col("pos0") + 1).alias("pos"),
            F.when(F.col("x").cast("double") > 0, 1).otherwise(0)
            .alias("sgn"),
        )
    )
    a = q.alias("a")
    b = q.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.vec_id") == F.col("b.vec_id"))
            & (F.col("a.pos") < F.col("b.pos")),
        )
        .groupBy(
            F.col("a.pos").cast("long").alias("d1"),
            F.col("b.pos").cast("long").alias("d2"),
        )
        .agg(
            F.count_if((F.col("a.sgn") == 1) & (F.col("b.sgn") == 1))
            .cast("long").alias("n11"),
            F.count_if((F.col("a.sgn") == 1) & (F.col("b.sgn") == 0))
            .cast("long").alias("n10"),
            F.count_if((F.col("a.sgn") == 0) & (F.col("b.sgn") == 1))
            .cast("long").alias("n01"),
            F.count_if((F.col("a.sgn") == 0) & (F.col("b.sgn") == 0))
            .cast("long").alias("n00"),
        )
    )
    return pairs.select(
        "d1", "d2", "n11", "n10", "n01", "n00",
        F.round(
            (F.col("n11") * F.col("n00") - F.col("n10") * F.col("n01"))
            .cast("double")
            / F.sqrt(
                (F.col("n11") + F.col("n10")).cast("double")
                * (F.col("n01") + F.col("n00")).cast("double")
                * (F.col("n11") + F.col("n01")).cast("double")
                * (F.col("n10") + F.col("n00")).cast("double")
            ),
            6,
        ).alias("phi"),
    ).orderBy("d1", "d2")


def q_activity_streaks(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    ud = events.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    wu = W.partitionBy("user_id").orderBy("d")
    isl = ud.select(
        "user_id",
        F.date_sub(
            F.col("d"), F.row_number().over(wu)
        ).alias("anchor"),
    )
    runs = isl.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    best = runs.groupBy("user_id").agg(
        F.max("len").cast("long").alias("streak")
    )
    return (
        best.groupBy("streak")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("streak")
    )


def q_retention_d1_d7(spark, sf_dir):
    (events,) = load(spark, sf_dir, "events")
    ud = events.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    firsts = ud.groupBy("user_id").agg(F.min("d").alias("d0"))
    d1 = ud.select(
        "user_id", F.date_sub("d", 1).alias("d0")
    ).distinct().withColumn("r1", F.lit(1))
    d7 = ud.select(
        "user_id", F.date_sub("d", 7).alias("d0")
    ).distinct().withColumn("r7", F.lit(1))
    j = (
        firsts.join(d1, ["user_id", "d0"], "left")
        .join(d7, ["user_id", "d0"], "left")
    )
    return (
        j.groupBy("d0")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cohort_users"),
            F.sum(F.coalesce(F.col("r1"), F.lit(0))).cast("long")
            .alias("d1_retained"),
            F.sum(F.coalesce(F.col("r7"), F.lit(0))).cast("long")
            .alias("d7_retained"),
            F.round(
                F.sum(F.coalesce(F.col("r1"), F.lit(0))).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("d1_rate"),
            F.round(
                F.sum(F.coalesce(F.col("r7"), F.lit(0))).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("d7_rate"),
        )
        .select(
            F.date_format("d0", "yyyy-MM-dd").alias("cohort_day"),
            "cohort_users", "d1_retained", "d7_retained",
            "d1_rate", "d7_rate",
        )
        .orderBy("cohort_day")
    )


def q_emb_centroid_purity(spark, sf_dir):
    (emb,) = load(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", "label",
        F.posexplode("embedding").alias("pos0", "x"),
    ).select(
        "vec_id", "label",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("x").cast("double") * 1000000).cast("long")
        .alias("qv"),
    )
    cent = q.groupBy(F.col("label").alias("clabel"), "pos").agg(
        F.sum("qv").cast("decimal(38,0)").alias("sl")
    )
    nc = cent.groupBy("clabel").agg(
        F.sum(F.col("sl") * F.col("sl")).cast("decimal(38,0)")
        .alias("nc2")
    )
    dots = (
        q.join(cent, cent["pos"] == q["pos"])
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum(F.col("qv").cast("decimal(38,0)") * F.col("sl"))
            .cast("decimal(38,0)").alias("dot")
        )
    )
    scored = dots.join(F.broadcast(nc), "clabel").select(
        "vec_id", "label", "clabel",
        (
            F.col("dot").cast("double")
            / F.sqrt(F.col("nc2").cast("double"))
        ).alias("score"),
    )
    wv = W.partitionBy("vec_id").orderBy(
        F.col("score").desc(), "clabel"
    )
    top = scored.withColumn("rk", F.row_number().over(wv)).where(
        F.col("rk") == 1
    )
    return (
        top.groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.count_if(F.col("clabel") == F.col("label")).cast("long")
            .alias("own_nearest"),
            F.round(
                F.count_if(F.col("clabel") == F.col("label"))
                .cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("purity"),
        )
        .orderBy("label")
    )


_CH_CHAR_NGRAMS = """
SELECT lang, tri, count() AS n
FROM (SELECT lang,
             arrayJoin(arrayMap(i -> substring(lower(text), i, 3),
                                range(1, length(text) - 1))) AS tri
      FROM documents WHERE text IS NOT NULL)
WHERE length(tri) = 3
GROUP BY lang, tri
ORDER BY lang, n DESC, tri
LIMIT 5 BY lang
"""


def q_dialect_char_ngrams(spark, sf_dir):
    from clickbom_spark.dialect import run_clickhouse_sql

    out = run_clickhouse_sql(spark, _CH_CHAR_NGRAMS, sf_dir)
    return out.select(
        "lang", "tri", F.col("n").cast("long").alias("n")
    ).orderBy("lang", F.col("n").desc(), "tri")


def q_supplier_balance_deciles(spark, sf_dir):
    from clickbom_spark.ext.ranks import with_global_rank

    (supplier,) = load(spark, sf_dir, "supplier")
    bal = supplier.select(
        "s_suppkey",
        F.round(F.col("s_acctbal") * 100).cast("long").alias("cents"),
    )
    ranked = with_global_rank(
        bal, ["cents", "s_suppkey"], rank_col="rn", total_col="n"
    )
    return (
        ranked.select(
            ((((F.col("rn") - 1) * 10).cast("long") / F.col("n"))
             .cast("long") + 1).alias("decile"),
            "cents",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum("cents").cast("long").alias("cents"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .orderBy("decile")
    )


def q_emb_intra_inter_dot(spark, sf_dir):
    (emb,) = load(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", "label",
        F.posexplode("embedding").alias("pos0", "x"),
    ).select(
        "vec_id", "label",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("x").cast("double") * 1000000).cast("long")
        .alias("qv"),
    )
    s = q.groupBy("label", "pos").agg(
        F.sum("qv").cast("decimal(38,0)").alias("sl")
    )
    norms = q.groupBy("label").agg(
        F.sum(
            F.col("qv").cast("decimal(38,0)")
            * F.col("qv").cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("q2"),
        F.countDistinct("vec_id").cast("long").alias("n"),
    )
    within = s.groupBy("label").agg(
        F.sum(F.col("sl") * F.col("sl")).cast("decimal(38,0)")
        .alias("s2")
    )
    total = s.groupBy("pos").agg(
        F.sum("sl").cast("decimal(38,0)").alias("st")
    )
    cross_d = (
        s.join(total, "pos")
        .groupBy("label")
        .agg(
            F.sum(F.col("sl") * (F.col("st") - F.col("sl")))
            .cast("decimal(38,0)").alias("sx")
        )
    )
    nn = norms.agg(F.sum("n").cast("long").alias("n_all"))
    j = (
        within.join(norms, "label")
        .join(cross_d, "label")
        .crossJoin(F.broadcast(nn))
    )
    return j.select(
        F.col("label").cast("long").alias("label"),
        F.col("n").alias("n_vecs"),
        F.round(
            (F.col("s2").cast("double") - F.col("q2").cast("double"))
            / (F.col("n").cast("double") * (F.col("n") - 1))
            / 1000000000000.0,
            6,
        ).alias("mean_within_dot"),
        F.round(
            F.col("sx").cast("double")
            / (
                F.col("n").cast("double") * F.col("n_all")
                - F.col("n").cast("double") * F.col("n")
            )
            / 1000000000000.0,
            6,
        ).alias("mean_cross_dot"),
    ).orderBy("label")
