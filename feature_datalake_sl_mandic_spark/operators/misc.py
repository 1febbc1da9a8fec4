"""Coverage completers: outer joins, MERGE-style upsert, arg-max, real pivot,
array aggregation, correlated subqueries, Arrow-vectorized UDF, sampling.

Each closes a line of the SURVEY.md §2.2/§2.3 checklist not already covered
by the themed modules.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from feature_datalake_sl_mandic_spark.catalog import load_tables
from feature_datalake_sl_mandic_spark.functions.hashing import (
    md5_bucket_col,
    md5_bucket_sql,
)
from feature_datalake_sl_mandic_spark.operators.relational import _t
from feature_datalake_sl_mandic_spark.registry import register, scratch_dir


@register(
    "join_full_outer_nation_activity",
    oracle="""
    WITH cust_n AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust
                    FROM customer GROUP BY 1),
         supp_n AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp
                    FROM supplier GROUP BY 1)
    SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
           coalesce(c.n_cust, 0) AS n_cust,
           coalesce(s.n_supp, 0) AS n_supp
    FROM cust_n c FULL OUTER JOIN supp_n s ON c.nationkey = s.nationkey
    ORDER BY nationkey
    """,
    tags=("join", "full-outer-join"),
)
def join_full_outer_nation_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two pre-aggregated sides (aggregate-before-join:
    the outer join sees O(keys) rows, not O(input))."""
    cu, su = _t(spark, sf_dir, "customer", "supplier")
    cn = cu.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    sn = su.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    return (
        cn.alias("c")
        .join(sn.alias("s"), F.col("c.nationkey") == F.col("s.nationkey"), "full_outer")
        .select(
            F.coalesce("c.nationkey", "s.nationkey").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


@register(
    "merge_upsert_orders",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey, round(o_totalprice + 100, 2) AS o_totalprice
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + 1000000000, 1.0 FROM orders WHERE o_orderkey % 13 = 0
    ),
    merged AS (
      SELECT coalesce(u.o_orderkey, b.o_orderkey) AS okey,
             coalesce(u.o_totalprice, round(b.o_totalprice, 2)) AS price,
             CASE WHEN u.o_orderkey IS NULL THEN 'kept'
                  WHEN b.o_orderkey IS NULL THEN 'inserted'
                  ELSE 'updated' END AS action
      FROM orders b FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey
    )
    SELECT action, count(*) AS n, round(sum(price), 2) AS total
    FROM merged GROUP BY action ORDER BY action
    """,
    tags=("ingest", "merge-upsert", "full-outer-join", "incremental"),
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (SCD-1 upsert) semantics as a full-outer join + coalesce —
    the incremental-ingest upgrade path of the reference's full-refresh S10
    (Delta MERGE compiles to this same shape; shuffle is on the merge key)."""
    (od,) = _t(spark, sf_dir, "orders")
    updates = (
        od.where(F.col("o_orderkey") % 7 == 0)
        .select("o_orderkey", F.round(F.col("o_totalprice") + 100, 2).alias("o_totalprice"))
        .unionAll(
            od.where(F.col("o_orderkey") % 13 == 0).select(
                (F.col("o_orderkey") + 1_000_000_000).alias("o_orderkey"),
                F.lit(1.0).alias("o_totalprice"),
            )
        )
    )
    b, u = od.alias("b"), updates.alias("u")
    merged = b.join(u, F.col("b.o_orderkey") == F.col("u.o_orderkey"), "full_outer").select(
        F.coalesce("u.o_orderkey", "b.o_orderkey").alias("okey"),
        F.coalesce("u.o_totalprice", F.round("b.o_totalprice", 2)).alias("price"),
        F.when(F.col("u.o_orderkey").isNull(), "kept")
        .when(F.col("b.o_orderkey").isNull(), "inserted")
        .otherwise("updated")
        .alias("action"),
    )
    return (
        merged.groupBy("action")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("price"), 2).alias("total"))
        .orderBy("action")
    )


@register(
    "agg_argmax_order_per_customer",
    oracle="""
    SELECT c_mktsegment,
           (max({'p': o_totalprice, 'k': o_orderkey})).k AS top_orderkey,
           round(max(o_totalprice), 2) AS top_price,
           (min({'p': o_totalprice, 'k': o_orderkey})).k AS bottom_orderkey
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("groupby-agg", "argmax"),
)
def agg_argmax_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-max via struct-extremum aggregation — top-1-per-group without a
    window sort. A bare ``max_by(key, value)`` is UNSPECIFIED on value ties
    (Spark returns an arbitrary tied row, varying run to run and engine to
    engine — the degenerate-lake oracle audit caught it on an all-constant
    price column), so the tie-break rides inside the comparison: the
    extremum of ``struct(value, key)`` picks the highest key among tied
    maxima and the lowest among tied minima, deterministically and
    identically on both engines."""
    od, cu = _t(spark, sf_dir, "orders", "customer")
    top = F.max(F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k")))
    bot = F.min(F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k")))
    return (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            top.getField("k").alias("top_orderkey"),
            F.round(F.max("o_totalprice"), 2).alias("top_price"),
            bot.getField("k").alias("bottom_orderkey"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "pivot_status_by_nation",
    oracle="""
    SELECT n.n_name AS nation,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY nation
    """,
    tags=("groupby-agg", "pivot"),
)
def pivot_status_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real ``.pivot()`` with an explicit value list (explicit values keep the
    plan single-pass and schema-stable — no distinct-scan of the pivot col)."""
    od, cu, na = _t(spark, sf_dir, "orders", "customer", "nation")
    out = (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "nation",
        F.coalesce("O", F.lit(0)).alias("status_o"),
        F.coalesce("F", F.lit(0)).alias("status_f"),
        F.coalesce("P", F.lit(0)).alias("status_p"),
    ).orderBy("nation")


@register(
    "arrays_collect_per_order",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list_sort(list(l_linenumber)), ',') AS linenumbers,
           len(list_distinct(list(l_suppkey))) AS n_supps,
           list_sort(list(l_linenumber))[1] AS first_line,
           round(list_sum(list(l_quantity)), 2) AS qty_sum
    FROM lineitem
    WHERE l_orderkey <= 500
    GROUP BY l_orderkey
    ORDER BY l_orderkey
    """,
    tags=("groupby-agg", "arrays", "collect-list"),
)
def arrays_collect_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: collect_list/set + array functions. collect_list is
    order-nondeterministic under parallelism, so results are sort_array'd —
    the discipline that makes array aggs reproducible at any partition count.
    The array column is serialized to a CSV string in the RESULT projection
    only (array semantics — sort, element_at — are exercised upstream): the
    harness canonicalizer sorts rows in pandas, where list cells are
    unhashable and crash the comparison."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_orderkey") <= 500)
        .groupBy("l_orderkey")
        .agg(
            F.sort_array(F.collect_list("l_linenumber")).alias("_ln"),
            F.size(F.collect_set("l_suppkey")).cast("bigint").alias("n_supps"),
            F.round(F.sum("l_quantity"), 2).alias("qty_sum"),
        )
        .select(
            "l_orderkey",
            F.concat_ws(",", F.col("_ln").cast("array<string>")).alias("linenumbers"),
            "n_supps",
            F.element_at("_ln", 1).alias("first_line"),
            "qty_sum",
        )
        .orderBy("l_orderkey")
    )


@register(
    "subquery_above_segment_avg",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment, round(c.c_acctbal, 2) AS acctbal
    FROM customer c
    WHERE c.c_acctbal > (
      SELECT avg(c2.c_acctbal) FROM customer c2
      WHERE c2.c_mktsegment = c.c_mktsegment
    )
    ORDER BY c.c_custkey
    """,
    tags=("subquery", "correlated-subquery", "sql-surface"),
)
def subquery_above_segment_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through the SQL surface — Catalyst
    decorrelates it into an aggregate + join (no per-row re-execution)."""
    load_tables(spark, sf_dir, names=["customer"])
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment, round(c.c_acctbal, 2) AS acctbal
        FROM customer c
        WHERE c.c_acctbal > (
          SELECT avg(c2.c_acctbal) FROM customer c2
          WHERE c2.c_mktsegment = c.c_mktsegment
        )
        ORDER BY c.c_custkey
        """
    )


@register(
    "text_tokenize_vectorized_udf",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS n_bpe_ish,
           len(regexp_extract_all(lower(text), '[0-9]+')) AS n_numeric
    FROM documents
    ORDER BY doc_id
    """,
    tags=("text", "pandas-udf", "tokenize"),
)
def text_tokenize_vectorized_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting via an Arrow-vectorized pandas_udf — the
    sanctioned shape for Python that built-ins can't express (10-100× over
    row-at-a-time UDFs; still oracle-checked because the regex is engine-
    portable)."""
    import re

    pat = re.compile(r"[a-z]+|[0-9]+")
    num = re.compile(r"[0-9]+")

    @pandas_udf("long")
    def n_bpe_ish(s: pd.Series) -> pd.Series:
        return s.str.lower().map(lambda t: len(pat.findall(t)))

    @pandas_udf("long")
    def n_numeric(s: pd.Series) -> pd.Series:
        return s.str.lower().map(lambda t: len(num.findall(t)))

    (dc,) = _t(spark, sf_dir, "documents")
    return dc.select(
        "doc_id",
        n_bpe_ish("text").alias("n_bpe_ish"),
        n_numeric("text").alias("n_numeric"),
    ).orderBy("doc_id")


@register(
    "maps_event_type_counts",
    oracle="""
    WITH per_type AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY user_id, event_type
    ),
    m AS (
      SELECT user_id,
             map_from_entries(list_sort(list({'k': event_type, 'v': n}))) AS type_map
      FROM per_type GROUP BY user_id
    )
    SELECT user_id,
           coalesce(type_map['click'][1], 0)    AS clicks,
           coalesce(type_map['purchase'][1], 0) AS purchases,
           len(map_keys(type_map))              AS n_types
    FROM m
    ORDER BY user_id
    """,
    tags=("maps", "groupby-agg", "collect-list"),
)
def maps_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType construction + lookup: per-user event-type count map built
    from sorted entries (sorted so map construction is order-deterministic),
    scalar lookups out — the feature-map shape used in ML feature tables."""
    (ev,) = _t(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    m = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("type_map")
    )
    return m.select(
        "user_id",
        F.coalesce(F.element_at("type_map", "click"), F.lit(0)).alias("clicks"),
        F.coalesce(F.element_at("type_map", "purchase"), F.lit(0)).alias("purchases"),
        F.size(F.map_keys("type_map")).cast("bigint").alias("n_types"),
    ).orderBy("user_id")


@register(
    "join_not_in_null_aware",
    oracle="""
    SELECT c.c_custkey, c.c_nationkey
    FROM customer c
    WHERE c.c_nationkey NOT IN (SELECT s.s_nationkey FROM supplier s
                                WHERE s.s_nationkey < 15)
    ORDER BY c.c_custkey
    """,
    tags=("join", "anti-join", "null-aware", "not-in-subquery"),
)
def join_not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN subquery — three-valued-logic anti join (Catalyst plans a
    null-aware anti join: one NULL in the subquery empties the result, unlike
    NOT EXISTS). Expressed through the SQL surface to exercise that exact
    planning path. The subquery is range-restricted: suppliers span every
    nation in the fixture, so the unrestricted NOT IN would be vacuously
    empty and prove nothing."""
    load_tables(spark, sf_dir, names=["customer", "supplier"])
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_nationkey
        FROM customer c
        WHERE c.c_nationkey NOT IN (SELECT s.s_nationkey FROM supplier s
                                WHERE s.s_nationkey < 15)
        ORDER BY c.c_custkey
        """
    )


@register(
    "sample_stratified_orders",
    oracle=f"""
    WITH b AS (
      SELECT o_orderstatus,
             {md5_bucket_sql("CAST(o_orderkey AS VARCHAR)", 10)} AS bucket
      FROM orders
    )
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_sampled
    FROM b
    WHERE bucket < CASE WHEN o_orderstatus = 'P' THEN 5 ELSE 2 END
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("sampling", "stratified", "deterministic", "hash-sample"),
)
def sample_stratified_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-stratum rates (O/F: 20%, P: 50%) done as
    deterministic per-stratum hash-bucket selection — same distributional
    shape as ``sampleBy`` but stable across runs, engines, and repartitions
    (a row's fate depends only on its key, never on cluster layout), which is
    what training-data holdouts require at 100 TB. Embarrassingly parallel:
    hash + threshold evaluate inside the scan stage; the only shuffle is the
    tiny per-status count."""
    (od,) = _t(spark, sf_dir, "orders")
    bucket = md5_bucket_col(F.col("o_orderkey").cast("string"), 10)
    rate = F.when(F.col("o_orderstatus") == "P", F.lit(5)).otherwise(F.lit(2))
    return (
        od.where(bucket < rate)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("o_orderstatus")
    )


@register(
    "groupmap_user_value_trend",
    oracle="""
    WITH seq AS (
      -- mirrors the Spark-side kernel filter: a NULL value would shift
      -- every later row's rn (the regression's x axis) and inflate
      -- count(*), splitting the engines on lakes with missing
      -- measurements (round-7 NaN-events parity suite)
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(regr_slope(value, rn), 6) AS trend_slope,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0 / count(*), 6)
             AS avg_value
    FROM seq GROUP BY user_id HAVING count(*) >= 2
    ORDER BY user_id
    """,
    tags=("pandas-udf", "group-map", "applyInPandas", "statistics"),
)
def groupmap_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group model fit over the Arrow boundary: OLS slope of event value
    over the user's event sequence — the per-entity-regression shape (trend
    features, drift detection) that built-in SQL aggregates can't express
    once the model gets any richer than regr_slope.

    Round 11 (guide §4): the group-map transport is ``mapInPandas`` over a
    user-hash-partitioned, user-sorted relation with an in-kernel group
    carve, NOT ``groupBy().applyInPandas``. applyInPandas frames EVERY GROUP
    as its own Arrow batch + Python call: measured 4.1 s noop at sf0.1 for a
    near-identity kernel over 1500 groups / 100k rows (7.6 s for the real
    fit) — pure per-group IPC overhead, which at 100 TB multiplies by
    billions of entities. Here whole 10k-row Arrow batches cross the
    boundary; groups are contiguous (sortWithinPartitions on the hash key),
    so the kernel slices complete groups out of each batch and carries the
    possibly-split tail group into the next one — per-group cost drops to a
    numpy slice. The per-group arithmetic (and its float-op order) is
    UNCHANGED: each sliced group runs the same ``fit`` kernel, including its
    own (ts, event_id) sort, so outputs are bit-identical to the
    applyInPandas form (oracle + degenerate-lake gates unchanged).
    Measured: 7.6 -> 1.0 s noop min at sf0.1.

    Scale: one shuffle on user_id (same as applyInPandas); memory per task
    is one Arrow batch plus one in-flight group, so the constraint is still
    max-group-size, not partition size. Regressing on the sequence index
    keeps the arithmetic scale-free so the oracle comparison is stable at 6
    decimals."""
    import numpy as np

    (ev,) = _t(spark, sf_dir, "events")

    def r6(x: float) -> float:
        # half-away-from-zero to 6 places: Python's round() is banker's
        # rounding, which disagrees with Spark/DuckDB ROUND on .5 boundaries
        return float(np.floor(abs(x) * 1e6 + 0.5) / 1e6 * (1 if x >= 0 else -1))

    def fit_stream(batches):
        """Carve complete user groups out of each Arrow batch (input is
        sorted by user_id within the partition) and fit each group; the
        tail group, which may continue in the next batch, is carried
        forward. One pandas sort + one output frame PER BATCH; per group
        only numpy slice arithmetic — the per-group float-op sequence
        (arange/mean/centered products/pairwise sums) is exactly the
        former per-group kernel's, so slopes are bit-identical."""
        carry = None

        def emit(pdf: pd.DataFrame):
            # == per-group sort_values(["ts", "event_id"]): user_id is
            # constant within a group, so the lexicographic whole-frame
            # sort restricted to a group is the same ordering
            pdf = pdf.sort_values(["user_id", "ts", "event_id"])
            ids = pdf["user_id"].to_numpy()
            vals = pdf["value"].to_numpy(dtype="float64")
            change = np.flatnonzero(ids[1:] != ids[:-1]) + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(ids)]))
            out_id, out_n, out_slope, out_avg = [], [], [], []
            for s0, e0 in zip(starts, ends):
                n_g = int(e0 - s0)
                if n_g < 2:  # slope undefined: skip the 0/0 fit entirely
                    continue
                y = vals[s0:e0]
                x = np.arange(1, n_g + 1, dtype="float64")
                xc, yc = x - x.mean(), y - y.mean()
                slope = float((xc * yc).sum() / (xc * xc).sum())
                out_id.append(int(ids[s0]))
                out_n.append(n_g)
                out_slope.append(r6(slope))
                # value is 2-decimal: x100 is an exact int64, so the sum is
                # order-independent and the double division matches the oracle
                out_avg.append(
                    r6(float(np.round(y * 100).astype("int64").sum()) / 100.0 / n_g)
                )
            if out_id:
                yield pd.DataFrame(
                    {
                        "user_id": out_id,
                        "n_events": out_n,
                        "trend_slope": out_slope,
                        "avg_value": out_avg,
                    }
                )

        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            # rows of the batch's last user may continue in the next batch;
            # user_id is sorted within the partition, so searchsorted finds
            # the first row of that (possibly incomplete) tail group
            cut = int(pdf["user_id"].searchsorted(pdf["user_id"].iloc[-1], "left"))
            if cut > 0:
                yield from emit(pdf.iloc[:cut])
            carry = pdf.iloc[cut:].copy()
        if carry is not None and len(carry):
            yield from emit(carry)

    return (
        ev.select("user_id", "ts", "event_id", "value")
        # null keys/ts/values carry no fit signal and would NaN the kernel
        .where(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("value").isNotNull()
        )
        .repartition("user_id")
        .sortWithinPartitions("user_id")
        .mapInPandas(
            fit_stream,
            schema="user_id bigint, n_events bigint, trend_slope double, avg_value double",
        )
        .where(F.col("n_events") >= 2)
        .orderBy("user_id")
    )


_Q22_SQL = """
    SELECT c.c_nationkey AS cntry,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c.c_nationkey IN (1, 3, 5, 7, 9)
      AND c.c_acctbal > (
        SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        FROM customer c2
        WHERE c2.c_acctbal > 0.0 AND c2.c_nationkey IN (1, 3, 5, 7, 9)
      )
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey
    ORDER BY cntry
"""


@register(
    "q22_inactive_high_balance",
    oracle=_Q22_SQL,
    tags=("sql-surface", "not-exists", "anti-join", "subquery", "groupby-agg"),
)
def q22_inactive_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (adapted to the fixture schema: nation-key set instead
    of phone prefixes) run ENTIRELY through the SQL surface — the same query
    text executes on Spark and on the DuckDB oracle, proving the ANSI-SQL
    entry point, scalar subquery decorrelation, and NOT EXISTS -> anti-join
    planning ("inactive" = no urgent orders; every fixture customer has some
    order, so the unrestricted form would be vacuously empty). The average is computed as exact-decimal sum / count so the
    comparison threshold is bit-identical across engines."""
    load_tables(spark, sf_dir, names=["customer", "orders"])
    return spark.sql(_Q22_SQL)


@register(
    "sample_deterministic_hash",
    oracle=f"""
    WITH sampled AS (
      SELECT o_orderkey, o_totalprice,
             {md5_bucket_sql("CAST(o_orderkey AS VARCHAR)", 10)} AS bucket
      FROM orders
    )
    SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
    FROM sampled WHERE bucket = 0
    ORDER BY o_orderkey
    """,
    tags=("sampling", "deterministic", "hash-sample"),
)
def sample_deterministic_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeatable ~10% sample by hashing the key (md5 -> bucket 0 of 10):
    unlike rng-based sampling this is stable across runs, engines, and
    repartitions — the property training-data holdout splits need (a doc's
    split assignment must never depend on cluster layout). Embarrassingly
    parallel: the hash is evaluated inside the scan stage, no shuffle."""
    (od,) = _t(spark, sf_dir, "orders")
    bucket = md5_bucket_col(F.col("o_orderkey").cast("string"), 10)
    return (
        od.where(bucket == 0)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
        .orderBy("o_orderkey")
    )


@register(
    "txlog_merge_upsert",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS okey, round(o_totalprice, 2) AS price,
             o_orderstatus AS status
      FROM orders
    ),
    updates AS (
      SELECT o_orderkey AS okey, round(o_totalprice + 100, 2) AS price,
             'U' AS status
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + 1000000000, 1.0, 'N'
      FROM orders WHERE o_orderkey % 13 = 0
    ),
    merged AS (
      SELECT * FROM base WHERE okey NOT IN (SELECT okey FROM updates)
      UNION ALL SELECT * FROM updates
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n, round(sum(price), 2) AS total
    FROM merged GROUP BY status ORDER BY status
    """,
    tags=("ingest", "merge-upsert", "acid", "transaction-log", "incremental"),
)
def txlog_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE executed through the transaction-log table format
    (sources/txlog.py): create a committed table from orders, MERGE an
    update/insert batch as a serializable commit, read back the NEW COMMITTED
    SNAPSHOT. Verifies real table-format IO — manifest commit, immutable data
    files, snapshot read — not just the join shape (merge_upsert_orders
    covers that); the oracle recomputes the merged state relationally."""
    from feature_datalake_sl_mandic_spark.sources.txlog import TxTable

    (od,) = _t(spark, sf_dir, "orders")
    base = od.select(
        F.col("o_orderkey").alias("okey"),
        F.round("o_totalprice", 2).alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    updates = (
        od.where(F.col("o_orderkey") % 7 == 0)
        .select(
            F.col("o_orderkey").alias("okey"),
            F.round(F.col("o_totalprice") + 100, 2).alias("price"),
            F.lit("U").alias("status"),
        )
        .unionAll(
            od.where(F.col("o_orderkey") % 13 == 0).select(
                (F.col("o_orderkey") + 1_000_000_000).alias("okey"),
                F.lit(1.0).alias("price"),
                F.lit("N").alias("status"),
            )
        )
    )
    t = TxTable.create(spark, scratch_dir("txlog_merge_upsert", sf_dir), base)
    t.merge(spark, updates, key="okey")
    return (
        t.read(spark)  # the committed post-merge snapshot, not the plan
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("price"), 2).alias("total"))
        .orderBy("status")
    )


@register(
    "udaf_median_session_value",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           round(median(value), 4) AS median_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("pandas-udf", "udaf", "grouped-agg", "events"),
)
def udaf_median_session_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via a GROUPED_AGG pandas_udf: exact per-group median.

    Covers the aggregate-UDF surface (SURVEY.md §2.2 UDF/UDAF/UDTF row):
    Arrow ships each group's column to Python once, the UDAF sorts
    INTERNALLY so shuffle arrival order cannot affect the result, and the
    even-count case interpolates the two middle values exactly like
    DuckDB's ``median``. At 100 TB an exact median needs the whole group on
    one executor — the same contract as any holistic aggregate; for sketch
    trade-offs use ``agg_approx_sketches`` (approx_percentile) instead.
    """
    import numpy as np

    (ev,) = _t(spark, sf_dir, "events")

    @pandas_udf("double")
    def exact_median(v: pd.Series) -> float:
        return float(np.median(v.to_numpy()))

    # grouped-agg pandas UDFs cannot mix with JVM aggregates in one agg —
    # the row count is a second (trivial) UDAF over the same Arrow batch.
    @pandas_udf("long")
    def group_size(v: pd.Series) -> int:
        return len(v)

    return (
        ev.groupBy("event_type")
        .agg(
            group_size("value").alias("n_events"),
            F.round(exact_median("value"), 4).alias("median_value"),
        )
        .orderBy("event_type")
    )


@register(
    "recursive_cte_customer_chain",
    oracle="""
    WITH RECURSIVE up(c_custkey, ancestor, depth) AS (
      SELECT c_custkey, c_custkey, 0 FROM customer
      UNION ALL
      SELECT u.c_custkey, u.ancestor // 10, u.depth + 1
      FROM up u WHERE u.ancestor >= 10
    )
    SELECT c_custkey,
           ancestor AS root,
           CAST(depth AS BIGINT) AS depth
    FROM up
    WHERE ancestor < 10
    ORDER BY c_custkey
    """,
    tags=("recursive-cte", "hierarchy", "iterative", "sql"),
)
def recursive_cte_customer_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 ``WITH RECURSIVE``): walk the synthetic
    customer hierarchy ``parent(k) = k div 10`` up to its single-digit root,
    emitting each customer's root and chain depth.

    Covers the iterative-SQL surface natively — the engine's recursion
    (iterative union with a fixpoint) is the declarative twin of the manual
    loops in ``dedup_cluster_components``/``graph_pagerank_cosupply``; depth
    is bounded by log10(maxkey), so state stays small at any scale.

    Total recursion output is |customer| x (log10(maxkey) + 1) — LINEAR in
    the input — but Spark guards every recursive CTE with a fixed
    ``spark.sql.cteRecursionRowLimit`` (default 1e6) that a 10x-inflated
    lake legitimately exceeds (found by the scale probe: 150k customers x
    ~11 levels ~ 1.7M rows under 2^33-shifted keys). The limit is a runaway-recursion
    safety net, not a capacity bound; it is sized to the engine's
    known-linear recursion bound in ``session.RUNTIME_CONFS`` (the session
    -level home for runtime confs, applied defensively to external
    sessions by the catalog) rather than mutated per query.
    """
    (cu,) = _t(spark, sf_dir, "customer")
    cu.select("c_custkey").createOrReplaceTempView("rcte_customer")
    return spark.sql(
        """
        WITH RECURSIVE up(c_custkey, ancestor, depth) AS (
          SELECT c_custkey, c_custkey, 0 FROM rcte_customer
          UNION ALL
          SELECT u.c_custkey, u.ancestor div 10, u.depth + 1
          FROM up u WHERE u.ancestor >= 10
        )
        SELECT c_custkey,
               ancestor AS root,
               CAST(depth AS BIGINT) AS depth
        FROM up
        WHERE ancestor < 10
        ORDER BY c_custkey
        """
    )


@register(
    "txlog_change_data_feed",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS okey, round(o_totalprice, 2) AS price,
             o_orderstatus AS status
      FROM orders
    ),
    -- commit 1: MERGE (updates %7 win, %13 insert under shifted keys)
    -- commit 2: DELETE okey in [100, 2000]
    diff AS (
      -- deletes: original keys erased by the range delete (v0 image)
      SELECT okey, price, status, 'delete' AS _change_type
      FROM base WHERE okey BETWEEN 100 AND 2000
      UNION ALL
      -- update pre/post: merged keys outside the deleted range
      SELECT okey, price, status, 'update_preimage'
      FROM base WHERE okey % 7 = 0 AND okey NOT BETWEEN 100 AND 2000
      UNION ALL
      SELECT okey, round(price + 100, 2), 'U', 'update_postimage'
      FROM base WHERE okey % 7 = 0 AND okey NOT BETWEEN 100 AND 2000
      UNION ALL
      -- inserts: shifted keys (never in [100, 2000])
      SELECT okey + 1000000000, 1.0, 'N', 'insert'
      FROM base WHERE okey % 13 = 0
    )
    SELECT okey, price, status, _change_type
    FROM diff
    ORDER BY _change_type, okey
    """,
    tags=("ingest", "cdc", "change-data-feed", "transaction-log", "time-travel"),
)
def txlog_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed from the transaction-log format (Delta CDF shape):
    create -> MERGE -> range-DELETE as three committed versions, then derive
    the row-level diff v0 -> latest FROM THE SNAPSHOTS (time travel), not
    from writer-side bookkeeping. The oracle recomputes the expected diff
    relationally; hash equality proves insert/delete/update classification
    and both update images."""
    from feature_datalake_sl_mandic_spark.sources.txlog import TxTable

    (od,) = _t(spark, sf_dir, "orders")
    base = od.select(
        F.col("o_orderkey").alias("okey"),
        F.round("o_totalprice", 2).alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    updates = (
        od.where(F.col("o_orderkey") % 7 == 0)
        .select(
            F.col("o_orderkey").alias("okey"),
            F.round(F.col("o_totalprice") + 100, 2).alias("price"),
            F.lit("U").alias("status"),
        )
        .unionAll(
            od.where(F.col("o_orderkey") % 13 == 0).select(
                (F.col("o_orderkey") + 1_000_000_000).alias("okey"),
                F.lit(1.0).alias("price"),
                F.lit("N").alias("status"),
            )
        )
    )
    t = TxTable.create(spark, scratch_dir("txlog_change_data_feed", sf_dir), base)
    t.merge(spark, updates, key="okey")
    t.delete_where(spark, "okey", 100, 2000)
    return t.change_feed(spark, key="okey", from_version=0).orderBy(
        "_change_type", "okey"
    )


@register(
    "arrow_batch_embedding_norms",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           round(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))), 6)
             AS l2_norm
    FROM embeddings
    WHERE isfinite(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
    ORDER BY vec_id
    """,
    tags=("arrow", "mapInArrow", "udf", "embeddings"),
)
def arrow_batch_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow``: the zero-copy Arrow-native UDF surface (one step lower
    than mapInPandas — no pandas conversion at all). Per-batch numpy over the
    raw Arrow buffers computes embedding L2 norms; per-row math, so batch
    boundaries can't affect results. Complements the pandas-based UDF family
    (vectorized/grouped-agg/group-map/UDTF) with the Arrow-level API."""
    import pyarrow as pa

    (em,) = _t(spark, sf_dir, "embeddings")

    def norms(batches):
        import numpy as np

        for batch in batches:
            tbl = pa.table(
                {
                    "vec_id": batch.column("vec_id"),
                    "dim": pa.array(
                        [len(v) for v in batch.column("embedding").to_pylist()],
                        type=pa.int64(),
                    ),
                    "l2_norm": pa.array(
                        [
                            round(float(np.sqrt(np.sum(np.asarray(v, dtype=np.float64) ** 2))), 6)
                            for v in batch.column("embedding").to_pylist()
                        ],
                        type=pa.float64(),
                    ),
                }
            )
            for out in tbl.to_batches():
                yield out

    from feature_datalake_sl_mandic_spark.operators.similarity import _finite_rows

    return (
        _finite_rows(em.select("vec_id", "embedding")
                     # a NULL embedding has no norm; drop before Arrow
                     .where(F.col("embedding").isNotNull()))
        # non-finite vectors excluded like every numeric embedding consumer
        # — a NaN l2_norm in hash-checked output is an engine-parity hazard
        # (round-7 NaN/Inf lake probe); the guard itself flags corrupt rows
        .mapInArrow(norms, "vec_id BIGINT, dim BIGINT, l2_norm DOUBLE")
        .orderBy("vec_id")
    )


MAP_RATE_THRESHOLD = 60.0


@register(
    "maps_zipwith_type_rates",
    oracle=f"""
    WITH cents AS (
      -- value IS NOT NULL mirrors the Spark-side pre-filter: count(*)
      -- would count NULL-value rows that sum() skips, splitting the
      -- engines on any lake with missing measurements (exposed by the
      -- round-7 NaN-events parity suite; invisible on the null-free
      -- fixture)
      SELECT user_id, event_type,
             sum(CAST(round(value * 100, 0) AS BIGINT))::BIGINT AS s100,
             count(*) AS c
      FROM events
      WHERE value IS NOT NULL
      GROUP BY user_id, event_type
    )
    SELECT user_id, event_type,
           ((2 * s100 * 100 + c) // (2 * c)) / 10000.0 AS avg_value
    FROM cents
    WHERE (2 * s100 * 100 + c) // (2 * c) >= {int(MAP_RATE_THRESHOLD)} * 10000
    ORDER BY user_id, event_type
    """,
    tags=("maps", "higher-order", "map-zip-with", "map-filter"),
)
def maps_zipwith_type_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order-function surface: per-user count and value-sum maps
    combined with ``map_zip_with`` (avg per event type), thresholded with
    ``map_filter``, rounded with ``transform_values``, exploded back to
    scalar rows. The oracle states the same result relationally — the point
    here is the MapType algebra staying JVM-side; map entries are built from
    sorted collect_lists so construction order is deterministic, and sums
    are exact integer cents so no engine can flip a rounding boundary."""
    (ev,) = _t(spark, sf_dir, "events")
    # a NULL event_type cannot be a map key (NULL_MAP_KEY)
    per_type = ev.where(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    ).groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("s100"),
    )
    m = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "c")))
        ).alias("mcount"),
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "s100")))
        ).alias("msum"),
    )
    # map_zip_with: exact half-up 4-decimal average scaled to an integer
    # ((2*s*100 + c) floor-div (2*c), written as n - n%d over bigints);
    # map_filter thresholds on that integer; transform_values descales.
    thr4 = int(MAP_RATE_THRESHOLD) * 10000
    num = lambda s, c: 2 * s * 100 + c  # noqa: E731
    scaled = m.select(
        "user_id",
        F.map_filter(
            F.map_zip_with(
                "msum",
                "mcount",
                lambda k, s, c: (num(s, c) - num(s, c) % (2 * c)) / (2 * c),
            ),
            lambda k, v: v >= thr4,
        ).alias("mscaled"),
    )
    rates = scaled.select(
        "user_id",
        F.transform_values("mscaled", lambda k, v: v / 10000.0).alias("mrate"),
    )
    return (
        rates.select("user_id", F.explode("mrate").alias("event_type", "avg_value"))
        .orderBy("user_id", "event_type")
    )


# ------------------------------------------------------ RFM segmentation

RFM_REF_DATE = "1998-12-31"  # recency anchor (end of the order calendar)
RFM_Q = [0.2, 0.4, 0.6, 0.8]  # quintile cutoffs


@register(
    "customers_rfm_segments",
    oracle=f"""
    WITH rfm AS (
      SELECT o_custkey,
             date_diff('day', CAST(max(o_orderdate) AS DATE),
                       DATE '{RFM_REF_DATE}') AS recency_days,
             count(*) AS frequency,
             CAST(round(sum(o_totalprice) * 100, 0) AS BIGINT) AS monetary_c
      FROM orders GROUP BY o_custkey
    ),
    cuts AS (
      SELECT
        {", ".join(f"quantile_cont(recency_days, {q}) AS r{i}" for i, q in enumerate(RFM_Q))},
        {", ".join(f"quantile_cont(frequency, {q}) AS f{i}" for i, q in enumerate(RFM_Q))},
        {", ".join(f"quantile_cont(monetary_c, {q}) AS m{i}" for i, q in enumerate(RFM_Q))}
      FROM rfm
    ),
    scored AS (
      SELECT o_custkey,
             -- recency: LOWER days = better = higher score
             5 - ((recency_days > r0)::INT + (recency_days > r1)::INT
                  + (recency_days > r2)::INT + (recency_days > r3)::INT)
               AS r_score,
             1 + (frequency > f0)::INT + (frequency > f1)::INT
               + (frequency > f2)::INT + (frequency > f3)::INT AS f_score,
             1 + (monetary_c > m0)::INT + (monetary_c > m1)::INT
               + (monetary_c > m2)::INT + (monetary_c > m3)::INT AS m_score,
             monetary_c
      FROM rfm CROSS JOIN cuts
    )
    SELECT CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           count(*) AS n_customers,
           sum(monetary_c)::BIGINT AS total_monetary_c
    FROM scored
    GROUP BY 1, 2, 3
    ORDER BY r_score, f_score, m_score
    """,
    tags=("events", "rfm", "segmentation", "quantiles", "customer-analytics"),
)
def customers_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation, the
    classic CRM scoring: per customer, days since last order, order count
    and lifetime cents; each metric scored 1–5 against exact interpolated
    quintile cutoffs; emitted as the segment-level rollup (125 possible
    cells). Monetary is kept in integer cents so segment totals are exact.

    Scale shape: the per-customer rollup is one map-side-combined shuffle;
    the quintile cutoffs are a SINGLE broadcast row (same
    broadcast-the-cutoffs device as ``quality_decile_stats`` — customers
    are never range-partitioned by score), and the final rollup is bounded
    by the 125 segment cells."""
    (orders,) = _t(spark, sf_dir, "orders")
    rfm = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(RFM_REF_DATE).cast("date"), F.max(F.to_date("o_orderdate"))
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice") * 100, 0).cast("bigint").alias("monetary_c"),
    ).localCheckpoint(eager=False)
    # ^ the per-customer relation feeds the quantile cutoffs AND the scoring
    # pass — pinned so the orders scan + aggregation run once, not per branch
    cuts = rfm.agg(
        *[
            F.expr(f"percentile({m}, {q})").alias(f"{m[0]}{i}")
            for m in ("recency_days", "frequency", "monetary_c")
            for i, q in enumerate(RFM_Q)
        ]
    )

    def band(col: str, prefix: str) -> F.Column:
        hits = sum(
            (F.col(col) > F.col(f"{prefix}{i}")).cast("int")
            for i in range(len(RFM_Q))
        )
        return hits

    scored = rfm.crossJoin(F.broadcast(cuts)).select(
        "o_custkey",
        (5 - band("recency_days", "r")).cast("bigint").alias("r_score"),
        (1 + band("frequency", "f")).cast("bigint").alias("f_score"),
        (1 + band("monetary_c", "m")).cast("bigint").alias("m_score"),
        "monetary_c",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary_c").alias("total_monetary_c"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )
