"""Declared engine queries + DuckDB oracle twins (driver contract).

Every operator from SURVEY.md §2 with a **Qnn** tag gets one entry
here: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (when
SQL-expressible) an ANSI-SQL string the DuckDB oracle runs on the same
parquet tables. The driver hash-compares the two (row count + schema +
order-insensitive value hash), so:

- every computed column is aliased identically on both sides;
- float aggregates are rounded on both sides (SURVEY.md §7.4 —
  double addition is non-associative across partition orders);
- no query relies on output row order (tie-broken window ranks only).

Spark side is DataFrame-first and stays JVM-side: no Python execution
nodes in any oracle-checked query EXCEPT the queries whose point is
the Python surface itself (q56 pandas_udf, q57 applyInPandas, q91
cogroup — Arrow-batched; q34/q89 are rows-only). A test enforces this
(tests/test_scale_discipline.py). Oracle side is plain DuckDB SQL
against the pre-registered views ``region nation customer supplier
part orders lineitem events documents embeddings``.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from climate_data_pipelines_spark.catalog import load_table, table_rows
from climate_data_pipelines_spark.functions.scalar import inclusive_month_range
from climate_data_pipelines_spark import sinks
from climate_data_pipelines_spark.operators import (
    analytics,
    asof,
    climate,
    dedup,
    graph,
    multimodal,
    sessions,
    similarity,
    textops,
    training,
)


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → rows-only check (non-SQL-expressible)
    doc: str


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc or fn.__doc__ or "")
        return fn

    return deco


# MinHash parameters shared by q37/q41/q90/q122 — the Spark calls and
# the generated DuckDB oracle CTEs below must agree on these.
# Two constraints set these values (both from the r5 scale-proof,
# which measured candidate pairs growing ~n² under the old 16-hash /
# 2-row-band config):
# 1. band DEPTH sets the LSH threshold t ≈ (1/bands)^(1/rows) — 8
#    bands × 4 rows → t ≈ 0.59, above the corpus's random-pair
#    Jaccard tail (colliding non-dups measured at J < 0.1; true
#    near-dups at J ≥ 0.8);
# 2. band rows must come from DISTINCT digest families (width 32 = 4
#    families = exactly the 4 striped rows per band) — same-family
#    Kirsch–Mitzenmacher minhashes share argmins, collapsing a band's
#    collision probability from J^rows to ~J (the actual root cause
#    of the quadratic candidates: 94% of colliding pairs had J<0.1).
MINHASH_N = 32
MINHASH_BANDS = 8


def _minhash_ctes(n_hashes: int = MINHASH_N, bands: int = MINHASH_BANDS) -> str:
    """DuckDB CTE chain t→sh→hh→sig→buckets→edges reproducing
    ``dedup.minhash_signatures`` (k=3 shingles, Kirsch–Mitzenmacher
    double hashing; family 0 = unsalted md5, wider families = salted
    sha256 split 4-way into two (h1,h2) pairs per digest) and
    ``dedup.minhash_lsh_candidates`` (banded bucket join) bit-for-bit.
    Generated rather than hand-written so widening n_hashes keeps the
    oracle in lockstep with the Spark parameters."""
    n_pairs = (n_hashes + 7) // 8
    hh_cols = [
        "CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS h1_0",
        "CAST('0x' || substring(md5(shingle), 16, 15) AS BIGINT) AS h2_0",
    ]
    for j in range(1, n_pairs):
        w, half = divmod(j - 1, 2)
        s = f"sha256('mh{w}|' || shingle)"
        lo = 1 + 30 * half
        hh_cols.append(f"CAST('0x' || substring({s}, {lo}, 15) AS BIGINT) AS h1_{j}")
        hh_cols.append(
            f"CAST('0x' || substring({s}, {lo + 15}, 15) AS BIGINT) AS h2_{j}"
        )
    sig_cols = []
    for i in range(n_hashes):
        # striped index→family mapping — must mirror
        # dedup.minhash_signatures (band-independence fix, r5)
        j, off = i % n_pairs, i // n_pairs
        sig_cols.append(f"MIN(h1_{j} + {off} * h2_{j}) AS mh{i}")
    r = n_hashes // bands
    cases = []
    for b in range(bands):
        concat = " || '|' || ".join(f"mh{i}" for i in range(b * r, (b + 1) * r))
        cases.append(f"WHEN {b} THEN {concat}")
    case_sql = "CASE g.band " + " ".join(cases) + " END"
    return f"""
         t AS (SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x != '') AS toks
               FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                       array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
                FROM t, UNNEST(generate_series(1, greatest(len(toks) - 2, 1))) AS u(i)),
         hh AS (SELECT doc_id, {', '.join(hh_cols)} FROM sh),
         sig AS (SELECT doc_id, {', '.join(sig_cols)} FROM hh GROUP BY doc_id),
         buckets AS (SELECT doc_id, g.band, md5({case_sql}) AS bh
                     FROM sig,
                          (SELECT unnest(generate_series(0, {bands - 1})) AS band) g),
         edges AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM buckets a JOIN buckets b
                     ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)"""


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


from climate_data_pipelines_spark.functions.scalar import oracle_round as oround


# ---------------------------------------------------------------------------
# §2.2 projections / filters / predicates
# ---------------------------------------------------------------------------


@query(
    "q01_projection",
    "SELECT event_id, ts, user_id, value FROM events",
    "P1: column projection (reference selects [time,lat,lon,VAR], "
    "precipitation_pipeline.py:139). Column pruning reaches the scan.",
)
def q01(spark, sf_dir):
    return _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")


@query(
    "q02_time_range",
    """SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-03-01'
         AND l_shipdate < TIMESTAMP '1997-11-01'""",
    "P2: inclusive year-month window (precipitation_pipeline.py:66-70) in "
    "canonical partition-prunable form.",
)
def q02(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(inclusive_month_range("l_shipdate", 1996, 3, 1997, 10)).select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity"
    )


@query(
    "q03_null_drop",
    """SELECT event_id, value FROM events
       WHERE value IS NOT NULL AND NOT isnan(value)""",
    "P3: dropna(subset=[VAR]) (precipitation_pipeline.py:107) with NaN "
    "normalized to SQL NULL semantics.",
)
def q03(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.filter(F.col("value").isNotNull() & ~F.isnan("value")).select(
        "event_id", "value"
    )


@query(
    "q04_mask_semi_join",
    """SELECT event_id, user_id, value FROM events
       WHERE user_id IN (SELECT DISTINCT user_id FROM events WHERE user_id % 10 < 3)""",
    "P4/J2: land-mask filter as broadcast left-semi join against a mask "
    "dimension (globe.is_land at precipitation_pipeline.py:160-161). The "
    "mask here is a derived user_id dimension standing in for the land grid.",
)
def q04(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    mask = ev.select("user_id").distinct().filter(F.pmod("user_id", F.lit(10)) < 3)
    return climate.land_filter(ev, mask, ["user_id"]).select(
        "event_id", "user_id", "value"
    )


@query(
    "q05_numeric_validity",
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
       FROM events
       WHERE regexp_matches(json_extract_string(props, '$.k'), '^[0-9]+$')""",
    "P6: string-numeric validity filter + cast (value.isdigit() at "
    "population_pipeline.py:44).",
)
def q05(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return (
        ev.withColumn("_k", k)
        .filter(F.col("_k").rlike("^[0-9]+$"))
        .select("event_id", F.col("_k").cast("bigint").alias("k_num"))
    )


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------


@query(
    "q06_broadcast_lookup_join",
    """SELECT c_custkey, c_name, n_name
       FROM customer JOIN nation ON c_nationkey = n_nationkey""",
    "J1: dict-lookup join (population_pipeline.py:57-65) as an explicit "
    "broadcast hash join of a small dimension.",
)
def q06(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    return cust.join(
        F.broadcast(nat), cust.c_nationkey == nat.n_nationkey, "inner"
    ).select("c_custkey", "c_name", "n_name")


@query(
    "q07_grid_semi_join",
    """SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
       WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size < 15)""",
    "J2/Q11-shape: left-semi join of the fact table against a filtered "
    "dimension (the land-cell pattern on star-schema keys).",
)
def q07(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    small = _t(spark, sf_dir, "part").filter(F.col("p_size") < 15).select("p_partkey")
    return li.join(
        F.broadcast(small), li.l_partkey == small.p_partkey, "left_semi"
    ).select("l_orderkey", "l_linenumber", "l_partkey")


@query(
    "q08_grid_anti_join",
    """SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
       WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_size < 15)""",
    "Q08: anti-join variant (ocean points; SURVEY.md §2.3 J2).",
)
def q08(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    small = _t(spark, sf_dir, "part").filter(F.col("p_size") < 15).select("p_partkey")
    return li.join(
        F.broadcast(small), li.l_partkey == small.p_partkey, "left_anti"
    ).select("l_orderkey", "l_linenumber", "l_partkey")


@query(
    "q09_multiway_join",
    """SELECT r_name, n_name,
              ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
              COUNT(*) AS n_items
       FROM lineitem
       JOIN orders   ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation   ON c_nationkey = n_nationkey
       JOIN region   ON n_regionkey = r_regionkey
       GROUP BY r_name, n_name""",
    "Q09: 5-way equi join over the star schema; dims broadcast, fact "
    "never shuffled until the final aggregation.",
)
def q09(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q10_left_outer_join",
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
              ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS total_spent
       FROM customer LEFT JOIN orders ON o_custkey = c_custkey
       GROUP BY c_custkey""",
    "Q10: left outer join preserving customers with zero orders.",
)
def q10(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spent"
            ),
        )
    )


@query(
    "q11_left_semi_join",
    """SELECT c_custkey, c_name FROM customer
       WHERE c_custkey IN (SELECT o_custkey FROM orders)""",
    "Q11: left semi — customers having at least one order.",
)
def q11(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "q12_left_anti_join",
    """SELECT c_custkey, c_name FROM customer
       WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""",
    "Q12: left anti — customers with no orders.",
)
def q12(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# ---------------------------------------------------------------------------
# §2.4 aggregations / grouping
# ---------------------------------------------------------------------------


@query(
    "q13_partition_layout",
    "SELECT DISTINCT year(ts) AS year, month(ts) AS month FROM events",
    "A1: grouping-as-physical-partitioning (per-month CSV split at "
    "precipitation_pipeline.py:134) — the derived partition-key space.",
)
def q13(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.year("ts").alias("year"), F.month("ts").alias("month")
    ).distinct()


@query(
    "q14_distinct",
    "SELECT DISTINCT event_type FROM events",
    "A2: distinct coordinate values (df['lat'].unique(), "
    "precipitation_pipeline.py:170).",
)
def q14(spark, sf_dir):
    return _t(spark, sf_dir, "events").select("event_type").distinct()


@query(
    "q15_group_count",
    """SELECT year(ts) AS year, month(ts) AS month, event_type,
              COUNT(*) AS n_rows
       FROM events GROUP BY year(ts), month(ts), event_type""",
    "A3: per-group cardinality (len(features) per month, "
    "precipitation_pipeline.py:167,234).",
)
def q15(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("year", F.year("ts"))
        .withColumn("month", F.month("ts"))
        .groupBy("year", "month", "event_type")
        .agg(F.count("*").alias("n_rows"))
    )


@query(
    "q16_value_per_key",
    """SELECT lang, MAX(n_chars) AS max_chars, COUNT(*) AS n_docs
       FROM documents GROUP BY lang""",
    "A4: dict-build first/last-value-per-key (population_pipeline.py:45), "
    "canonicalized to max for determinism (SURVEY.md §7.4).",
)
def q16(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.max("n_chars").alias("max_chars"), F.count("*").alias("n_docs")
    )


@query(
    "q17_agg_suite",
    """SELECT l_returnflag, l_linestatus,
              ROUND(SUM(l_quantity), 2) AS sum_qty,
              ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
              ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
              ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
              ROUND(AVG(l_quantity), 6) AS avg_qty,
              ROUND(AVG(l_extendedprice), 4) AS avg_price,
              ROUND(AVG(l_discount), 6) AS avg_disc,
              COUNT(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '2000-09-02'
       GROUP BY l_returnflag, l_linestatus""",
    "Q17: TPC-H Q1-shaped pricing summary — hash agg with partial "
    "(map-side) combine; the engine's flagship numeric aggregate suite.",
)
def q17(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q18_count_distinct",
    """SELECT l_returnflag,
              COUNT(DISTINCT l_partkey) AS n_parts,
              COUNT(DISTINCT l_suppkey) AS n_supps
       FROM lineitem GROUP BY l_returnflag""",
    "Q18: exact distinct counts (approx_count_distinct is exercised "
    "rows-only in tests — sketch values differ from exact by design).",
)
def q18(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@query(
    "q19_rollup",
    """SELECT l_returnflag, l_linestatus,
              ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n
       FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
    "Q19: ROLLUP grouping sets (df.rollup).",
)
def q19(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("n")
    )


@query(
    "q20_filtered_agg",
    """SELECT l_returnflag,
              ROUND(SUM(CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0 END), 2)
                AS high_disc_rev,
              COUNT(CASE WHEN l_quantity > 25 THEN 1 END) AS n_bulk
       FROM lineitem GROUP BY l_returnflag""",
    "Q20: filtered aggregation (sum(CASE WHEN…) ≡ F.sum(F.when(…))).",
)
def q20(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice")).otherwise(0.0)),
            2,
        ).alias("high_disc_rev"),
        F.count(F.when(F.col("l_quantity") > 25, F.lit(1))).alias("n_bulk"),
    )


# ---------------------------------------------------------------------------
# §2.5 windows / sorts / limits
# ---------------------------------------------------------------------------


@query(
    "q21_sort_limit",
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "W1/W3: global sort + limit (top-k). Range-partitioned sort; limit "
    "pushed into partial top-k per partition. Tie-broken → deterministic set.",
)
def q21(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(100).select(
        "o_orderkey", "o_totalprice"
    )


@query(
    "q22_neighbor_diff",
    """WITH d AS (SELECT DISTINCT value FROM events WHERE value IS NOT NULL),
         g AS (SELECT value - LAG(value) OVER (ORDER BY value) AS gap FROM d)
       SELECT ROUND(COALESCE(MIN(gap), 0.5), 6) AS resolution FROM g""",
    "W2: grid-resolution inference — min neighbor gap over sorted distinct "
    "values, fallback for singleton axes "
    "(precipitation_pipeline.py:169-184; generalized first-gap → min-gap).",
)
def q22(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    res = climate.grid_resolution(ev, "value", fallback=0.5)
    return res.select(F.round("resolution", 6).alias("resolution"))


@query(
    "q23_topk_per_group",
    """SELECT event_type, event_id, value, rn FROM (
         SELECT event_type, event_id, value,
                ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY value DESC, event_id) AS rn
         FROM events WHERE value IS NOT NULL) t
       WHERE rn <= 5""",
    "W3: ranking top-k per group (window rank + filter; the "
    "--drop-densest analog, SURVEY.md §2.5).",
)
def q23(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("event_type", "event_id", "value", "rn")
    )


@query(
    "q24_rolling_window",
    """SELECT event_id, user_id,
              ROUND(AVG(value) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
                AS rolling_avg
       FROM events""",
    "W4 (Q24): frame-spec aggregate window — climate rolling mean per "
    "cell (partition by coords, order by time).",
)
def q24(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 6).alias("rolling_avg"),
    )


# ---------------------------------------------------------------------------
# §2.6 set operations
# ---------------------------------------------------------------------------


@query(
    "q25_union",
    """SELECT event_id, event_type, value FROM events WHERE event_type = 'click'
       UNION ALL
       SELECT event_id, event_type, value FROM events WHERE event_type = 'purchase'""",
    "Q25: unionByName of two same-schema slices (multi-variable climate "
    "tables share one long schema, SURVEY.md §2.6).",
)
def q25(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    a = ev.filter(F.col("event_type") == "click")
    b = ev.filter(F.col("event_type") == "purchase")
    return a.unionByName(b)


@query(
    "q26_intersect",
    """SELECT user_id FROM events WHERE ts <  TIMESTAMP '2024-01-15'
       INTERSECT
       SELECT user_id FROM events WHERE ts >= TIMESTAMP '2024-01-15'""",
    "Q26: INTERSECT (distinct) — users active in both halves of the month.",
)
def q26(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-15").cast("timestamp")
    a = ev.filter(F.col("ts") < cut).select("user_id")
    b = ev.filter(F.col("ts") >= cut).select("user_id")
    return a.intersect(b)


@query(
    "q27_except_all",
    """SELECT user_id FROM events WHERE event_type = 'click'
       EXCEPT ALL
       SELECT user_id FROM events WHERE event_type = 'error'""",
    "Q27: EXCEPT ALL (multiset difference).",
)
def q27(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id")
    b = ev.filter(F.col("event_type") == "error").select("user_id")
    return a.exceptAll(b)


# ---------------------------------------------------------------------------
# §2.7 scalar functions
# ---------------------------------------------------------------------------


@query(
    "q28_date_parts",
    """SELECT event_id, year(ts) AS year, month(ts) AS month,
              day(ts) AS day, hour(ts) AS hour
       FROM events""",
    "F1 (Q28): date-part extraction as derived columns "
    "(pd.to_datetime(...).dt.year at precipitation_pipeline.py:131-132).",
)
def q28(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").alias("year"),
        F.month("ts").alias("month"),
        F.dayofmonth("ts").alias("day"),
        F.hour("ts").alias("hour"),
    )


@query(
    "q29_coord_arithmetic",
    """SELECT l_orderkey, l_linenumber,
              ROUND(l_extendedprice * (1 - l_discount), 4) AS net_price,
              ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 4) AS gross_price,
              ROUND(ABS(l_discount - l_tax), 6) AS rate_gap
       FROM lineitem""",
    "F3 (Q29): row-level arithmetic (the polygon-corner math shape: "
    "lon ± res/2, abs(a-b) at precipitation_pipeline.py:197-208).",
)
def q29(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        oround(net, 4).alias("net_price"),
        oround(net * (1 + F.col("l_tax")), 4).alias("gross_price"),
        oround(F.abs(F.col("l_discount") - F.col("l_tax")), 6).alias("rate_gap"),
    )


@query(
    "q30_string_codec",
    """SELECT event_id,
              printf('%04d-%02d', year(ts), month(ts)) AS month_key,
              lpad(CAST(user_id AS VARCHAR), 6, '0') AS user_key,
              concat_ws('_', event_type, printf('%04d-%02d', year(ts), month(ts)))
                || '.csv' AS filename,
              regexp_replace(
                concat_ws('_', event_type, printf('%04d-%02d', year(ts), month(ts)))
                  || '.csv', '\\.csv$', '') AS stem
       FROM events""",
    "F5/F6 (Q30): filename codec — zero-padded format, lpad, concat_ws, "
    "suffix strip (f'{month:02d}' at precipitation_pipeline.py:135, "
    ".replace('.csv','') at :279-280).",
)
def q30(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    mk = F.format_string("%04d-%02d", F.year("ts"), F.month("ts"))
    fname = F.concat(F.concat_ws("_", F.col("event_type"), mk), F.lit(".csv"))
    return ev.select(
        "event_id",
        mk.alias("month_key"),
        F.lpad(F.col("user_id").cast("string"), 6, "0").alias("user_key"),
        fname.alias("filename"),
        F.regexp_replace(fname, r"\.csv$", "").alias("stem"),
    )


@query(
    "q31_polygon_corners",
    """SELECT event_id,
              ROUND(value - 0.3125, 6) AS west,
              ROUND(value + 0.3125, 6) AS east,
              ROUND(value * 0.5 - 0.25, 6) AS south,
              ROUND(value * 0.5 + 0.25, 6) AS north
       FROM events WHERE value IS NOT NULL""",
    "U1→F3 (Q31): cell polygonization corner math, vectorized (replaces "
    "iterrows loop at precipitation_pipeline.py:188-223). Corners "
    "flattened to columns for oracle hashing; the nested ring array is "
    "exercised by q32/geojson.",
)
def q31(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = F.col("value")
    return ev.select(
        "event_id",
        oround(v - 0.3125, 6).alias("west"),
        oround(v + 0.3125, 6).alias("east"),
        oround(v * 0.5 - 0.25, 6).alias("south"),
        oround(v * 0.5 + 0.25, 6).alias("north"),
    )


@query(
    "q33_json_access",
    """SELECT event_id,
              CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
       FROM events""",
    "F9 (Q33): JSON field access on the events.props document column "
    "(feat['properties'].get('ADMIN') shape, population_pipeline.py:59).",
)
def q33(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_value"),
    )


# ---------------------------------------------------------------------------
# §2.10 streaming surface (batch-checkable forms)
# ---------------------------------------------------------------------------


@query(
    "q35_tumbling_window",
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
              CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY AS window_end,
              event_type, COUNT(*) AS n,
              ROUND(SUM(value), 4) AS sum_value
       FROM events GROUP BY 1, 2, 3""",
    "Q35: tumbling window aggregation (F.window in batch mode — same "
    "operator Structured Streaming uses; the reference's monthly "
    "micro-batch cadence, SURVEY.md §2.10).",
)
def q35(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# §2.11 LLM-data operators: dedup
# ---------------------------------------------------------------------------


@query(
    "q36_exact_dedup",
    """SELECT sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
              MIN(doc_id) AS keep_id, COUNT(*) AS n_dupes
       FROM documents GROUP BY 1""",
    "Q36: exact dedup via sha256 of normalized text — groupBy on the "
    "digest, deterministic min-id keeper (SURVEY.md §2.11). Shuffle "
    "carries 32-byte keys, never document bodies.",
)
def q36(spark, sf_dir):
    return dedup.exact_dedup_keys(_t(spark, sf_dir, "documents"))


@query(
    "q37_minhash_lsh_candidates",
    f"""WITH{_minhash_ctes()}
       SELECT id_a, id_b FROM edges""",
    "Q37 MinHash+LSH near-dup candidate pairs, oracle-checked (was "
    "rows-only): shingle→signature→band→bucket-join; the equi-join on "
    "(band, band_hash) replaces the quadratic all-pairs comparison. "
    f"{MINHASH_N} permutations from {(MINHASH_N + 7) // 8} digest "
    "families (Kirsch–Mitzenmacher double hashing, striped so each "
    f"band's rows span distinct families), {MINHASH_BANDS} bands × "
    f"{MINHASH_N // MINHASH_BANDS} rows (t ≈ 0.59). The DuckDB twin "
    "reproduces signatures and banding bit-for-bit (generated CTEs — "
    "oracle stays in lockstep with the parameters).",
)
def q37(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, k=3, n_hashes=MINHASH_N)
    return dedup.minhash_lsh_candidates(sigs, n_hashes=MINHASH_N, bands=MINHASH_BANDS)


@query(
    "q72_minhash_lsh_ml",
    None,
    "Q37 MLlib variant (rows-only): HashingTF shingles → "
    "ml.feature.MinHashLSH.approxSimilarityJoin — Spark's built-in "
    "banded LSH join with estimated Jaccard distance per pair "
    "(SURVEY.md §2.11).",
)
def q72(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_ml(docs, k=3, num_hash_tables=8, max_jaccard_distance=0.9)


@query(
    "q85_merge_upsert",
    """WITH src AS (SELECT o_orderkey, o_custkey,
                           ROUND(o_totalprice * 1.1 * 10000) / 10000 AS o_totalprice
                    FROM orders WHERE o_orderkey % 10 = 0)
       SELECT * FROM src
       UNION ALL
       SELECT o_orderkey, o_custkey,
              ROUND(o_totalprice * 10000) / 10000 AS o_totalprice
       FROM orders t
       WHERE NOT EXISTS (SELECT 1 FROM src WHERE src.o_orderkey = t.o_orderkey)""",
    "Source-wins MERGE/upsert without a table format: source union "
    "(target anti-join source on key) — the engine's relational form "
    "of the reference's delete-then-rewrite maintenance "
    "(precipitation_pipeline.py:255). One key shuffle; pairs with "
    "bucketed layouts at scale.",
)
def q85(spark, sf_dir):
    from climate_data_pipelines_spark.operators import merge

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", oround(F.col("o_totalprice"), 4).alias("o_totalprice")
    )
    src = (
        _t(spark, sf_dir, "orders")
        .filter(F.pmod("o_orderkey", F.lit(10)) == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            oround(F.col("o_totalprice") * 1.1, 4).alias("o_totalprice"),
        )
    )
    return merge.merge_upsert(orders, src, ["o_orderkey"])


@query(
    "q86_latest_per_key",
    """SELECT user_id,
              arg_max(event_type, event_id) AS event_type,
              arg_max(props, event_id) AS props,
              MAX(event_id) AS event_id
       FROM events GROUP BY user_id""",
    "SCD current-snapshot: latest record per key via max_by/arg_max — "
    "single partial+final hash aggregate, no window sort, no "
    "self-join (the A4 'value per key' shape done right at scale).",
)
def q86(spark, sf_dir):
    from climate_data_pipelines_spark.operators import merge

    ev = _t(spark, sf_dir, "events")
    return merge.latest_per_key(
        ev, ["user_id"], "event_id", ["event_type", "props"]
    )


@query(
    "q87_variant_json",
    """SELECT event_id,
              CAST(json_extract(props, '$.k') AS BIGINT) AS k_value,
              CAST(json_extract(props, '$.missing') AS BIGINT) AS missing_value
       FROM events""",
    "Semi-structured VARIANT path (Spark 4): parse_json once into a "
    "VariantType column, then typed variant_get extraction — the "
    "binary-encoded, shreddable alternative to per-access string "
    "parsing (q33). Same answers as the JSON-string oracle.",
)
def q87(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k_value"),
        F.try_variant_get(v, "$.missing", "bigint").alias("missing_value"),
    )


@query(
    "q88_hll_sketch_merge",
    None,
    "Mergeable HLL sketches (rows-only; estimates are "
    "implementation-specific): per-day DataSketches HLL of user_id "
    "via hll_sketch_agg, then hll_union_agg re-aggregates the daily "
    "sketches to one total estimate — the pre-aggregated-sketch "
    "rollup pattern that makes COUNT DISTINCT cheap at 100 TB "
    "(sketches merge; raw distinct sets don't).",
)
def q88(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sketch"),
        F.count("*").alias("n_events"),
    )
    return daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("distinct_users_est"),
        F.sum("n_events").alias("n_events"),
        F.count("*").alias("n_days"),
    )


@query(
    "q89_udtf_sentences",
    None,
    "Python UDTF (rows-only; Spark 4 table function): LATERAL "
    "split_sentences(doc_id, text) — one doc row expands to N "
    "sentence rows through the SQL entry point. Demo surface for "
    "row-expanding Python; the vectorized path is q82.",
)
def q89(spark, sf_dir):
    from climate_data_pipelines_spark.catalog import register_views
    from climate_data_pipelines_spark.functions.udfs import register_udtfs

    register_views(spark, sf_dir)
    register_udtfs(spark)
    return spark.sql(
        """SELECT s.doc_id, s.sent_idx, s.sentence
           FROM documents d, LATERAL split_sentences(d.doc_id, d.text) s"""
    )


@query(
    "q91_cogrouped_asof",
    None,
    "Cogrouped applyInPandas (rows-only): two frames grouped on the "
    "same key arrive as per-key pandas pairs; pandas.merge_asof "
    "attaches the most recent right row. UDF twin of the JVM-side "
    "as-of join q48 — cross-validated row-for-row against it in "
    "tests (SURVEY.md §2.8 UDF surface).",
)
def q91(spark, sf_dir):
    from climate_data_pipelines_spark.functions.udfs import (
        ASOF_COGROUP_SCHEMA,
        asof_merge_cogrouped,
    )

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    left = ev.filter(F.pmod("event_id", F.lit(2)) == 0)
    right = ev.filter(F.pmod("event_id", F.lit(2)) == 1).select(
        "user_id",
        F.col("event_id").alias("ref_event_id"),
        F.col("ts").alias("rts"),
    )
    return (
        left.groupBy("user_id")
        .cogroup(right.groupBy("user_id"))
        .applyInPandas(asof_merge_cogrouped, ASOF_COGROUP_SCHEMA)
    )


@query(
    "q105_locf_gapfill",
    """SELECT event_id, user_id,
              last_value(CASE WHEN isnan(value) THEN NULL ELSE value END IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
       FROM events""",
    "Gap-fill via last-observation-carried-forward: null/NaN readings "
    "take the most recent valid value of the same key — one "
    "last(ignorenulls) window pass, no self-join (the sensor-feed "
    "fill, paired with q104's time weighting).",
)
def q105(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    clean = ev.withColumn("value", F.when(F.isnan(v), F.lit(None)).otherwise(v))
    out = asof.locf(clean, "user_id", "ts", "value", tie_cols=["event_id"])
    return out.select("event_id", "user_id", "filled")


@query(
    "q104_time_weighted_avg",
    """WITH s AS (SELECT user_id, epoch_us(ts) / 1000000.0 AS t, value,
                    lead(epoch_us(ts) / 1000000.0)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
                  FROM events WHERE value IS NOT NULL AND NOT isnan(value))
       SELECT user_id,
              ROUND(CASE WHEN SUM(nxt - t) IS NULL OR SUM(nxt - t) = 0
                         THEN AVG(value)
                         ELSE SUM(value * (nxt - t)) / SUM(nxt - t) END
                    * 10000) / 10000 AS twa,
              COUNT(*) AS n_samples
       FROM s GROUP BY user_id""",
    "Time-weighted average for irregular series (hypertable classic): "
    "each sample weighted by its time-in-effect (interval to the next "
    "sample, LOCF semantics) — one lead window + one hash aggregate, "
    "no self-join.",
)
def q104(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    out = asof.time_weighted_avg(ev, "user_id", "ts", "value", tie_cols=["event_id"])
    return out.select(
        "user_id",
        oround("twa", 4).alias("twa"),
        F.col("n_samples").cast("long").alias("n_samples"),
    )


@query(
    "q102_anomaly",
    """SELECT event_id,
              ROUND(AVG(CASE WHEN isnan(value) THEN NULL ELSE value END)
                      OVER (PARTITION BY month(ts)) * 10000) / 10000
                AS climatology,
              ROUND((value - AVG(CASE WHEN isnan(value) THEN NULL ELSE value END)
                      OVER (PARTITION BY month(ts))) * 10000) / 10000
                AS anomaly
       FROM events
       WHERE value IS NOT NULL AND NOT isnan(value)""",
    "Climatological anomaly (departure from monthly normals) — the "
    "standard climate transform, as an unbounded window average "
    "partitioned by calendar month; one shuffle on the month key, "
    "single pass, no normals self-join.",
)
def q102(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    obs = ev.filter(F.col("value").isNotNull() & ~F.isnan("value")).withColumn(
        "month", F.month("ts")
    )
    out = climate.anomaly(obs)
    return out.select(
        "event_id",
        oround("climatology", 4).alias("climatology"),
        oround("anomaly", 4).alias("anomaly"),
    )


@query(
    "q103_regrid",
    """WITH pts AS (
         SELECT (user_id % 170) - 85 + 0.25 AS lat,
                (event_id % 360) - 180 + 0.3125 AS lon,
                value
         FROM events WHERE value IS NOT NULL AND NOT isnan(value))
       SELECT FLOOR(lat / 5.0) * 5.0 + 2.5 AS c_lat,
              FLOOR(lon / 10.0) * 10.0 + 5.0 AS c_lon,
              COUNT(*) AS n_points,
              ROUND(AVG(value) * 10000) / 10000 AS mean_value
       FROM pts GROUP BY 1, 2""",
    "Spatial regrid/coarsen (xarray coarsen analog): snap points to "
    "5x10-degree cells and average — one map-side-combined hash "
    "aggregate; the pyramid-level downsampling op.",
)
def q103(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    pts = (
        ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .select(
            ((F.pmod("user_id", F.lit(170)) - 85).cast("double") + 0.25).alias("lat"),
            ((F.pmod("event_id", F.lit(360)) - 180).cast("double") + 0.3125).alias(
                "lon"
            ),
            "value",
        )
    )
    out = climate.regrid(pts, 5.0, 10.0)
    return out.select(
        "c_lat",
        "c_lon",
        F.col("n_points").cast("long").alias("n_points"),
        oround("mean_value", 4).alias("mean_value"),
    )


@query(
    "q101_nearest_station",
    """WITH pts AS (
         SELECT event_id,
                (user_id % 170) - 85 + 0.25 AS lat,
                (event_id % 360) - 180 + 0.3125 AS lon
         FROM events),
       st AS (
         SELECT n_nationkey AS station_id,
                (n_nationkey * 7 % 140) - 70 + 0.5 AS s_lat,
                (n_nationkey * 13 % 340) - 170 + 0.5 AS s_lon
         FROM nation),
       scored AS (
         SELECT p.event_id, p.lat, p.lon, st.station_id,
                2 * 6371.0088 * asin(sqrt(
                  sin(radians(st.s_lat - p.lat) / 2) ^ 2
                  + cos(radians(p.lat)) * cos(radians(st.s_lat))
                    * sin(radians(st.s_lon - p.lon) / 2) ^ 2)) AS d
         FROM pts p CROSS JOIN st)
       SELECT event_id, lat, lon,
              arg_min(station_id, d) AS station_id,
              ROUND(MIN(d) * 10000) / 10000 AS station_km
       FROM scored GROUP BY 1, 2, 3""",
    "Nearest-station assignment (climate-domain classic): broadcast "
    "the station dimension, haversine as pure trig expressions "
    "(codegen, no UDF), arg-min via min_by aggregation — no window "
    "sort, single narrow pass over the fact table.",
)
def q101(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        ((F.pmod("user_id", F.lit(170)) - 85).cast("double") + 0.25).alias("lat"),
        ((F.pmod("event_id", F.lit(360)) - 180).cast("double") + 0.3125).alias("lon"),
    )
    nation = _t(spark, sf_dir, "nation")
    stations = nation.select(
        F.col("n_nationkey").alias("station_id"),
        (((F.col("n_nationkey") * 7) % 140 - 70).cast("double") + 0.5).alias("s_lat"),
        (((F.col("n_nationkey") * 13) % 340 - 170).cast("double") + 0.5).alias("s_lon"),
    )
    return climate.nearest_station(pts, stations)


@query(
    "q99_map_suite",
    """SELECT event_id,
              map(['type','id'], [event_type, CAST(event_id AS VARCHAR)])['type'][1]
                AS type_val,
              array_to_string(list_sort(map_keys(map(['type','id'],
                [event_type, CAST(event_id AS VARCHAR)]))), ',') AS keys_sorted,
              CAST(cardinality(map(['type','id'],
                [event_type, CAST(event_id AS VARCHAR)])) AS INT) AS n_entries
       FROM events""",
    "Map-type function suite (F10 companion): per-row map "
    "construction, key lookup, sorted key listing, cardinality — "
    "Spark MapType vs DuckDB MAP, same logical answers.",
)
def q99(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"),
        F.col("event_type"),
        F.lit("id"),
        F.col("event_id").cast("string"),
    )
    return ev.select(
        "event_id",
        F.element_at(m, "type").alias("type_val"),
        # Joined to a scalar: the driver's pandas canonicalizer cannot
        # hash/sort list cells (round-1 driver-RED on array<string>).
        F.array_join(F.sort_array(F.map_keys(m)), ",").alias("keys_sorted"),
        F.size(m).cast("int").alias("n_entries"),
    )


@query(
    "q100_date_spine",
    """WITH b AS (SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
                         MAX(CAST(o_orderdate AS DATE)) AS hi FROM orders),
         spine AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
                     AS day FROM b),
         daily AS (SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS c
                   FROM orders GROUP BY 1)
       SELECT s.day, COALESCE(d.c, 0) AS n
       FROM spine s LEFT JOIN daily d USING(day)""",
    "Date-spine densification: generate the full calendar between min "
    "and max order dates (sequence+explode — no driver loop) and "
    "left-join daily counts with zero-fill, so gap days surface as 0 "
    "rows — the time-series completeness pattern every reporting "
    "layer needs.",
)
def q100(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.to_date("o_orderdate")).alias("lo"),
        F.max(F.to_date("o_orderdate")).alias("hi"),
    )
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count("*").alias("c")
    )
    return spine.join(daily, "day", "left").select(
        "day", F.coalesce("c", F.lit(0)).cast("long").alias("n")
    )


@query(
    "q96_stats_suite",
    """SELECT l_returnflag,
              ROUND(stddev_samp(l_quantity) * 10000) / 10000 AS sd_qty,
              ROUND(var_samp(l_quantity) * 10000) / 10000 AS var_qty,
              ROUND(corr(l_quantity, l_extendedprice) * 1000000) / 1000000 AS corr_qty_price,
              ROUND(covar_samp(l_quantity, l_discount) * 1000000) / 1000000 AS covar_qty_disc,
              ROUND(regr_slope(l_extendedprice, l_quantity) * 10000) / 10000 AS slope,
              ROUND(regr_intercept(l_extendedprice, l_quantity) * 10000) / 10000 AS intercept
       FROM lineitem GROUP BY l_returnflag""",
    "Statistical aggregate suite: stddev/variance/correlation/"
    "covariance/linear regression — single-pass partial+final "
    "(sufficient statistics merge associatively, so map-side combine "
    "applies exactly as for sum/count).",
)
def q96(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    q, p, d = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")
    return li.groupBy("l_returnflag").agg(
        oround(F.stddev_samp(q), 4).alias("sd_qty"),
        oround(F.var_samp(q), 4).alias("var_qty"),
        oround(F.corr(q, p), 6).alias("corr_qty_price"),
        oround(F.covar_samp(q, d), 6).alias("covar_qty_disc"),
        oround(F.regr_slope(p, q), 4).alias("slope"),
        oround(F.regr_intercept(p, q), 4).alias("intercept"),
    )


@query(
    "q97_string_agg",
    """SELECT n_regionkey,
              string_agg(n_name, ',' ORDER BY n_name) AS nations,
              COUNT(*) AS n
       FROM nation GROUP BY n_regionkey""",
    "Ordered string aggregation (listagg shape): collect_list → "
    "array_sort → array_join, deterministic by the explicit sort. At "
    "scale the collect is bounded per group (cardinality contract, "
    "like the GeoJSON feature_collection sink).",
)
def q97(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    return n.groupBy(F.col("n_regionkey")).agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
        F.count("*").alias("n"),
    )


@query(
    "q98_histogram",
    """SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                        WHEN o_totalprice >= 600000 THEN 13
                        ELSE FLOOR(o_totalprice / 50000) + 1 END AS BIGINT) AS bucket,
              COUNT(*) AS n,
              ROUND(MIN(o_totalprice) * 100) / 100 AS lo,
              ROUND(MAX(o_totalprice) * 100) / 100 AS hi
       FROM orders GROUP BY 1""",
    "Histogram via width_bucket + groupBy: fixed-width binning "
    "entirely map-side before the tiny per-bucket aggregate — the "
    "distribution-profiling op every data-quality pass runs.",
)
def q98(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(600000), F.lit(12)).alias(
                "bucket"
            )
        )
        .agg(
            F.count("*").alias("n"),
            oround(F.min("o_totalprice"), 2).alias("lo"),
            oround(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query(
    "q94_bitwise_null_suite",
    """SELECT o_orderkey,
              o_orderkey & 255 AS low_byte,
              o_orderkey | 1 AS set_lsb,
              xor(o_orderkey, 21845) AS xored,
              o_orderkey << 2 AS shifted_l,
              o_orderkey >> 3 AS shifted_r,
              COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_or_open,
              CASE WHEN NULLIF(o_orderpriority, '1-URGENT') IS NULL THEN 'a' ELSE 'b' END AS nvl2_urgent,
              GREATEST(o_orderkey % 7, o_orderkey % 5) AS g,
              LEAST(o_orderkey % 7, o_orderkey % 5) AS l
       FROM orders""",
    "Bitwise + null-handling function suite: and/or/xor/shifts, "
    "coalesce/nullif/nvl2 three-valued logic, greatest/least.",
)
def q94(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(1)).alias("set_lsb"),
        k.bitwiseXOR(F.lit(21845)).alias("xored"),
        F.shiftleft(k, 2).alias("shifted_l"),
        F.shiftright(k, 3).alias("shifted_r"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")).alias(
            "status_or_open"
        ),
        F.nvl2(F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")), F.lit("b"), F.lit("a")).alias("nvl2_urgent"),
        F.greatest(F.pmod(k, F.lit(7)), F.pmod(k, F.lit(5))).alias("g"),
        F.least(F.pmod(k, F.lit(7)), F.pmod(k, F.lit(5))).alias("l"),
    )


@query(
    "q95_struct_update",
    """SELECT o_orderkey,
              o_orderkey AS rec_key,
              o_totalprice AS rec_price,
              CAST(o_totalprice * 1.1 AS DOUBLE) AS rec_adjusted,
              2 AS n_extra
       FROM orders""",
    "F10 (dict/map update): nested-record update via struct + "
    "withField and map_concat enrichment — the feat['properties']"
    "['population'] = x shape (population_pipeline.py:63-64), kept "
    "relational. Oracle checks the extracted field values (flat "
    "equivalents of the nested updates).",
)
def q95(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    rec = F.struct(
        F.col("o_orderkey").alias("key"), F.col("o_totalprice").alias("price")
    )
    updated = rec.withField("adjusted", F.col("o_totalprice") * 1.1)
    extra = F.map_concat(
        F.create_map(F.lit("a"), F.lit(1)), F.create_map(F.lit("b"), F.lit(2))
    )
    return o.select(
        "o_orderkey",
        updated.getField("key").alias("rec_key"),
        updated.getField("price").alias("rec_price"),
        updated.getField("adjusted").cast("double").alias("rec_adjusted"),
        F.size(extra).cast("int").alias("n_extra"),
    )


@query(
    "q93_try_functions",
    """SELECT l_orderkey, l_linenumber,
              ROUND((l_quantity / NULLIF(l_discount, 0)) * 10000) / 10000
                AS qty_per_discount,
              TRY_CAST(l_returnflag AS DOUBLE) AS flag_as_num,
              TRY_CAST(l_shipdate AS DATE) AS ship_day
       FROM lineitem""",
    "ANSI-mode-safe arithmetic: try_divide/try_cast return NULL "
    "instead of failing the job on div-by-zero or bad casts — the "
    "error-tolerant path a 100 TB batch needs (one malformed row must "
    "not kill a 10-hour job). Oracle uses NULLIF/TRY_CAST for the "
    "same null-on-error semantics.",
)
def q93(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        oround(F.try_divide("l_quantity", F.nullif(F.col("l_discount"), F.lit(0.0))), 4).alias(
            "qty_per_discount"
        ),
        F.try_to_number("l_returnflag", F.lit("9")).cast("double").alias("flag_as_num"),
        F.col("l_shipdate").cast("date").alias("ship_day"),
    )


@query(
    "q92_land_mask_grid",
    f"""WITH pts AS (
         SELECT event_id,
                (user_id % 360) * 0.5 - 90 + 0.25 AS lat,
                (event_id % 576) * 0.625 - 180 + 0.3125 AS lon
         FROM events)
       SELECT event_id, lat, lon FROM pts
       WHERE EXISTS (
         SELECT 1 FROM read_parquet('{climate.PACKAGED_LAND_MASK}') m
         WHERE m.is_land AND m.lat = pts.lat AND m.lon = pts.lon)""",
    "P4/J2 with the REAL land-grid dimension: observations snapped to "
    "0.5x0.625-degree cell centers, broadcast left-semi joined against "
    "the ~70k-row land-cell table (climate.land_grid, default = the "
    "repo-packaged coastline rasterization from "
    "tools/build_land_mask.py). The oracle semi-joins the SAME parquet "
    "artifact; cell centers are exact dyadic doubles on both sides so "
    "the equality join is bit-safe.",
)
def q92(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        (F.pmod("user_id", F.lit(360)).cast("double") * 0.5 - 90 + 0.25).alias("lat"),
        (F.pmod("event_id", F.lit(576)).cast("double") * 0.625 - 180 + 0.3125).alias(
            "lon"
        ),
    )
    # Pin the packaged artifact explicitly: the oracle SQL above reads
    # PACKAGED_LAND_MASK, so the Spark side must not honor a
    # SPARK_GRAFT_LAND_MASK env override or the two sides diverge.
    grid = climate.land_grid(spark, mask_parquet=climate.PACKAGED_LAND_MASK)
    return climate.land_filter(pts, grid, ["lat", "lon"]).select(
        "event_id", "lat", "lon"
    )


@query(
    "q83_time_rollup",
    """SELECT year(ts) AS y, month(ts) AS m, day(ts) AS d,
              COUNT(*) AS n,
              ROUND(SUM(CASE WHEN isnan(value) THEN NULL ELSE value END)
                    * 10000) / 10000 AS sum_value,
              GROUPING(year(ts)) * 4 + GROUPING(month(ts)) * 2
                + GROUPING(day(ts)) AS lvl
       FROM events
       GROUP BY ROLLUP(year(ts), month(ts), day(ts))""",
    "Hypertable-style continuous aggregate: one pass produces the "
    "day/month/year/total rollup hierarchy (df.rollup + grouping_id) — "
    "the multi-resolution materialized-rollup shape time-series stores "
    "precompute; at 100 TB this is written partitioned by level and "
    "refreshed incrementally per closed period (SURVEY.md §2.4 Q19 "
    "extension).",
)
def q83(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    clean = F.when(F.isnan(v), F.lit(None)).otherwise(v)
    return (
        ev.rollup(
            F.year("ts").alias("y"),
            F.month("ts").alias("m"),
            F.dayofmonth("ts").alias("d"),
        )
        .agg(
            F.count("*").alias("n"),
            oround(F.sum(clean), 4).alias("sum_value"),
            F.grouping_id().cast("long").alias("lvl"),
        )
        .select("y", "m", "d", "n", "sum_value", "lvl")
    )


@query(
    "q80_redact",
    """SELECT doc_id,
              regexp_replace(regexp_replace(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                'https?://[^\\s]+', '<URL>', 'g') AS redacted,
              len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
              len(regexp_extract_all(text, 'https?://[^\\s]+')) AS n_urls
       FROM documents""",
    "Training-data hygiene: PII/URL redaction scrub with match counts "
    "— narrow map, no shuffle, linear at any corpus size "
    "(SURVEY.md §2.11 text analysis).",
)
def q80(spark, sf_dir):
    out = textops.redact(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        "redacted",
        F.col("n_emails").cast("long").alias("n_emails"),
        F.col("n_urls").cast("long").alias("n_urls"),
    )


@query(
    "q81_repetition_ratio",
    """WITH t AS (SELECT doc_id,
                    list_filter(string_split(text, ' '), x -> x != '') AS toks
                  FROM documents),
         g AS (SELECT doc_id,
                      [array_to_string(list_slice(toks, i, i + 1), ' ')
                       FOR i IN generate_series(1, greatest(len(toks) - 1, 1))] AS grams
               FROM t)
       SELECT doc_id, len(grams) AS n_grams,
              ROUND(CAST(list_max(list_transform(list_distinct(grams),
                      gg -> len(list_filter(grams, x -> x = gg)))) AS DOUBLE)
                    / len(grams) * 1000000) / 1000000 AS max_gram_ratio
       FROM g""",
    "Gopher-style repetition signal: share of bigram occurrences taken "
    "by the most frequent bigram — per-row higher-order functions, no "
    "explode, no shuffle (SURVEY.md §2.11 quality scoring).",
)
def q81(spark, sf_dir):
    out = textops.repetition_ratio(_t(spark, sf_dir, "documents"), k=2)
    return out.select(
        "doc_id", F.col("n_grams").cast("long").alias("n_grams"), "max_gram_ratio"
    )


@query(
    "q82_sentence_stats",
    """WITH s AS (SELECT doc_id,
                    list_filter(string_split_regex(text, '[.!?]+'),
                                x -> trim(x) != '') AS sents
                  FROM documents)
       SELECT doc_id, len(sents) AS n_sentences,
              ROUND(CAST(list_sum(list_transform(sents,
                      x -> len(list_filter(string_split_regex(trim(x), '\\s+'),
                               w -> w != '')))) AS DOUBLE)
                    / len(sents) * 1000000) / 1000000 AS mean_sentence_tokens
       FROM s""",
    "Sentence segmentation stats (C4-style length features): split on "
    "terminal punctuation, mean sentence length in tokens — narrow "
    "map (SURVEY.md §2.11 text analysis).",
)
def q82(spark, sf_dir):
    out = textops.sentence_stats(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_sentences").cast("long").alias("n_sentences"),
        "mean_sentence_tokens",
    )


@query(
    "q74_salted_skew_join",
    """SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, p.p_name
       FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey""",
    "Skew-salting join (100 TB design rule): dimension replicated over "
    "8 salt buckets, fact deterministically salted — a hot part key "
    "spreads across 8 tasks instead of one straggler. Semantics-"
    "preserving: hash-matches the plain inner join.",
)
def q74(spark, sf_dir):
    from climate_data_pipelines_spark.operators import scale

    li = _t(spark, sf_dir, "lineitem").withColumnRenamed("l_partkey", "p_partkey")
    part = _t(spark, sf_dir, "part")
    return scale.salted_join(li, part, "p_partkey", n_salt=8).select(
        "l_orderkey", "l_linenumber", "l_quantity", "p_name"
    )


@query(
    "q75_salted_agg",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
              ROUND(SUM(l_quantity) * 10000) / 10000 AS sum_value
       FROM lineitem GROUP BY 1, 2""",
    "Skew-salting aggregation (100 TB design rule): salted partial "
    "groupBy bounds the final-stage merge fan-in for hot keys. "
    "Semantics-preserving: hash-matches the plain groupBy.",
)
def q75(spark, sf_dir):
    from climate_data_pipelines_spark.operators import scale

    li = _t(spark, sf_dir, "lineitem")
    out = scale.salted_agg_count_sum(
        li, ["l_returnflag", "l_linestatus"], "l_quantity", n_salt=8
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        oround(F.col("sum_value"), 4).alias("sum_value"),
    )


@query(
    "q76_tile_rollup",
    """WITH pts AS (
         SELECT (user_id % 170) - 85 + 0.25 AS lat,
                (event_id % 360) - 180 + 0.3125 AS lon,
                value
         FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
       t AS (
         SELECT CAST(4 AS INT) AS z,
                CAST(FLOOR((lon + 180) / 360 * 16) AS INT) AS x,
                CAST(FLOOR((1 - ln(tan(radians(lat)) + 1 / cos(radians(lat))) / pi())
                           / 2 * 16) AS INT) AS y,
                value
         FROM pts)
       SELECT z, x, y, COUNT(*) AS n_points,
              ROUND(AVG(value) * 10000) / 10000 AS mean_value
       FROM t GROUP BY 1, 2, 3""",
    "Tile pyramid, relational half (SURVEY.md §1.1/K3): Web-Mercator "
    "z/x/y assignment as pure column math + per-tile aggregate rollup "
    "— the in-engine analog of tippecanoe's density budgeting (tile "
    "payload is the aggregate, bounded at any scale). Synthetic "
    "lat/lon derived from event ids (events carry no coordinates).",
)
def q76(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    pts = (
        ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .withColumn(
            "lat", (F.pmod("user_id", F.lit(170)) - 85).cast("double") + 0.25
        )
        .withColumn(
            "lon", (F.pmod("event_id", F.lit(360)) - 180).cast("double") + 0.3125
        )
    )
    tiled = climate.tile_assign(pts, zoom=4)
    roll = climate.tile_rollup(tiled)
    return roll.select(
        "z",
        "x",
        "y",
        F.col("n_points").cast("long").alias("n_points"),
        oround("mean_value", 4).alias("mean_value"),
    )


@query(
    "q77_grouping_sets",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
              ROUND(SUM(l_quantity) * 10000) / 10000 AS sum_qty
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                               (l_returnflag), ())""",
    "Q19 completion: explicit GROUPING SETS (rollup/cube are q19/q58; "
    "this is the arbitrary-set form, via the SQL entry point over "
    "registered views — every operator is reachable from spark.sql, "
    "SURVEY.md §1.3).",
)
def q77(spark, sf_dir):
    from climate_data_pipelines_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                  ROUND(SUM(l_quantity) * 10000) / 10000 AS sum_qty
           FROM lineitem
           GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                   (l_returnflag), ())"""
    )


@query(
    "q78_exists_subquery",
    """SELECT c_custkey, c_name FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey
                       AND o.o_totalprice > 200000)
         AND NOT EXISTS (SELECT 1 FROM orders o2
                         WHERE o2.o_custkey = c.c_custkey
                           AND o2.o_orderstatus = 'F'
                           AND o2.o_totalprice < 1000)""",
    "Correlated EXISTS / NOT EXISTS subqueries — planned as left-semi "
    "+ left-anti joins by Catalyst (SURVEY.md §2.3 J-suite via the "
    "SQL entry point).",
)
def q78(spark, sf_dir):
    from climate_data_pipelines_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """SELECT c_custkey, c_name FROM customer c
           WHERE EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_totalprice > 200000)
             AND NOT EXISTS (SELECT 1 FROM orders o2
                             WHERE o2.o_custkey = c.c_custkey
                               AND o2.o_orderstatus = 'F'
                               AND o2.o_totalprice < 1000)"""
    )


@query(
    "q79_scalar_subquery",
    """SELECT o_orderkey, o_totalprice,
              ROUND((o_totalprice - (SELECT AVG(o_totalprice) FROM orders))
                    * 10000) / 10000 AS vs_avg
       FROM orders
       WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)""",
    "Scalar subqueries (uncorrelated) — planned as a broadcast "
    "one-row subquery result; the filter + projection reuse the same "
    "subquery (Catalyst ReuseSubquery).",
)
def q79(spark, sf_dir):
    from climate_data_pipelines_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """SELECT o_orderkey, o_totalprice,
                  ROUND((o_totalprice - (SELECT AVG(o_totalprice) FROM orders))
                        * 10000) / 10000 AS vs_avg
           FROM orders
           WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)"""
    )


@query(
    "q41_minhash_signatures",
    f"""WITH{_minhash_ctes()}
       SELECT doc_id, {', '.join(f'mh{i}' for i in range(MINHASH_N))} FROM sig""",
    "Q37 scale path, oracle-checked: portable MinHash signatures via "
    "Kirsch-Mitzenmacher double hashing — one digest per 8 "
    f"permutations ({(MINHASH_N + 7) // 8} families for {MINHASH_N} "
    "permutations; 60-bit splits as h1/h2, mh_i = min(h1 + m*h2) "
    "with index→family striping for band independence) over 3-token "
    "shingles; explode→groupBy with map-side combine, single shuffle "
    "on doc_id.",
)
def q41(spark, sf_dir):
    return dedup.minhash_signatures(
        _t(spark, sf_dir, "documents"), k=3, n_hashes=MINHASH_N
    )


@query(
    "q40_ngram_jaccard",
    """WITH sh AS (SELECT doc_id, source,
                     unnest(list_distinct(list_filter(string_split(text, ' '), x -> x != ''))) AS shingle
                   FROM documents),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
                    FROM sh a JOIN sh b
                      ON a.shingle = b.shingle AND a.source = b.source
                     AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
       SELECT id_a, id_b,
              ROUND((CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)) * 1000000) / 1000000
                AS jaccard
       FROM common
       JOIN sizes sa ON sa.doc_id = id_a
       JOIN sizes sb ON sb.doc_id = id_b
       WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5""",
    "Q40: exact n-gram Jaccard on blocked pairs (block = source) — the "
    "verification stage of near-dup; explode→equi-join→group-count, "
    "no quadratic cross product (SURVEY.md §2.11).",
)
def q40(spark, sf_dir):
    pairs = dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), k=1, block_col="source", threshold=0.5
    )
    return pairs.select("id_a", "id_b", oround(F.col("jaccard"), 6).alias("jaccard"))


@query(
    "q90_dedup_clusters",
    f"""WITH RECURSIVE{_minhash_ctes()},
         sym AS (SELECT id_a AS a, id_b AS b FROM edges
                 UNION SELECT id_b, id_a FROM edges),
         reach(src, node) AS (
             SELECT doc_id, doc_id FROM documents
           UNION
             SELECT r.src, s.b FROM reach r JOIN sym s ON r.node = s.a
         )
       SELECT src AS doc_id, MIN(node) AS component FROM reach GROUP BY src""",
    "Dedup clustering: connected components over the MinHash+LSH "
    "candidate pairs (q37's banded bucket join — the 100 TB candidate "
    "generator). Candidates are INTENTIONALLY unverified here — this "
    "query exercises the raw LSH→CC path; q122 is the "
    "production-shaped variant with the per-pair exact-Jaccard "
    "verification stage in between. Iterative min-label propagation "
    "runs over the edge-endpoint subgraph ONLY (≪1% of a real corpus); "
    "singletons attach after convergence via one anti-join — per-round "
    "cost is sized by edges, not corpus. The oracle reproduces the "
    "identical signatures/banding bit-for-bit and closes them with a "
    "recursive-CTE transitive closure — same fixpoint, two execution "
    "strategies (SURVEY.md §2.11).",
)
def q90(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, k=3, n_hashes=MINHASH_N)
    edges = dedup.minhash_lsh_candidates(sigs, n_hashes=MINHASH_N, bands=MINHASH_BANDS)
    return dedup.connected_components(
        edges, nodes=docs.select("doc_id"), node_col="doc_id"
    )


@query(
    "q122_verified_dedup_clusters",
    f"""WITH RECURSIVE{_minhash_ctes()},
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         common AS (SELECT e.id_a, e.id_b, COUNT(*) AS n_common
                    FROM edges e
                    JOIN sh a ON a.doc_id = e.id_a
                    JOIN sh b ON b.doc_id = e.id_b AND b.shingle = a.shingle
                    GROUP BY 1, 2),
         ver AS (SELECT c.id_a, c.id_b
                 FROM common c
                 JOIN sizes sa ON sa.doc_id = c.id_a
                 JOIN sizes sb ON sb.doc_id = c.id_b
                 WHERE CAST(n_common AS DOUBLE)
                       / (sa.n_sh + sb.n_sh - n_common) >= 0.5),
         sym AS (SELECT id_a AS a, id_b AS b FROM ver
                 UNION SELECT id_b, id_a FROM ver),
         reach(src, node) AS (
             SELECT doc_id, doc_id FROM documents
           UNION
             SELECT r.src, s.b FROM reach r JOIN sym s ON r.node = s.a
         )
       SELECT src AS doc_id, MIN(node) AS component FROM reach GROUP BY src""",
    "Production near-dup pipeline, all three stages: LSH banding "
    "generates candidates (no all-pairs), exact n-gram Jaccard "
    "VERIFIES each candidate pair (per-pair cost — only endpoint "
    "documents are re-shingled, a semi-join at 100 TB), and connected "
    "components clusters the verified edges. Verification kills the "
    "false-positive band collisions that would otherwise transitively "
    "merge unrelated documents into one dedup group (the q90 caveat). "
    "Oracle replays candidates bit-for-bit, applies the identical "
    "Jaccard >= 0.5 gate, and closes with a recursive CTE.",
)
def q122(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, k=3, n_hashes=MINHASH_N)
    cand = dedup.minhash_lsh_candidates(sigs, n_hashes=MINHASH_N, bands=MINHASH_BANDS)
    # the verification stage references the candidate frame several
    # times (endpoint set + two shingle joins); materialize the tiny
    # pair list once instead of replaying the signature+bucket join
    # per reference (at scale: persist/write the candidate table)
    cand = cand.localCheckpoint(eager=True)
    ver = (
        dedup.jaccard_on_pairs(docs, cand, k=3)
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b")
    )
    return dedup.connected_components(
        ver, nodes=docs.select("doc_id"), node_col="doc_id"
    )


@query(
    "q42_simhash",
    None,
    "Q42 (rows-only): 64-bit SimHash fingerprints — per-token xxhash64 "
    "bit votes, conditional-sum aggregation, sign-pack to BIGINT "
    "(xxhash64 has no DuckDB twin → rows-only).",
)
def q42(spark, sf_dir):
    return dedup.simhash(_t(spark, sf_dir, "documents"))


@query(
    "q52_dedup_rows",
    """SELECT event_id, ts, user_id, event_type, value, props FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
                     ORDER BY ts, user_id, event_type, value, props) AS rn
         FROM events) t
       WHERE rn = 1""",
    "Q52: row-level keyed dedup — batch analog of "
    "dropDuplicatesWithinWatermark (SURVEY.md §2.10), deterministic "
    "min-struct keeper instead of dropDuplicates' arbitrary row.",
)
def q52(spark, sf_dir):
    return dedup.dedup_rows(_t(spark, sf_dir, "events"), ["event_id"]).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


# ---------------------------------------------------------------------------
# §2.11 similarity search
# ---------------------------------------------------------------------------


def _query_vectors(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


@query(
    "q38_cosine_topk",
    """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                  FROM embeddings WHERE vec_id < 3),
         s AS (SELECT q.query_id, e.vec_id,
                 ROUND((list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
                   (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
                    sqrt(list_dot_product(q.qv, q.qv)))) * 1000000) / 1000000 AS cosine
               FROM embeddings e, q
               WHERE e.vec_id != q.query_id),
         r AS (SELECT query_id, vec_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, vec_id) AS rank
               FROM s)
       SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 10""",
    "Q38: brute-force cosine top-k — zip_with/aggregate dot product "
    "(JVM codegen, no UDF), broadcast query set, rank window "
    "(SURVEY.md §2.11).",
)
def q38(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, _query_vectors(spark, sf_dir), k=10)


@query(
    "q43_embedding_neardup",
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              ROUND((list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
                (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
                 sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))) * 1000000) / 1000000
                AS cosine
       FROM embeddings a JOIN embeddings b
         ON a.label = b.label AND a.vec_id < b.vec_id
       WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.3""",
    "Q43: embedding-cosine near-dup pairs blocked on label — exact "
    "cosine verification on an equi-join candidate set "
    "(SURVEY.md §2.11).",
)
def q43(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_neardup_pairs(emb, threshold=0.3)


@query(
    "q55_ann_lsh_topk",
    None,
    "Q38 scale path (rows-only): random-hyperplane LSH bucketing "
    "(8 tables x 5 planes, Hamming-2 multiprobe on the query side) + "
    "exact cosine within bucket — approximate by construction, judged "
    "on recall vs q38 in tests and bench (recall@10 = 1.0 at sf0.1, "
    "candidate set 1.36x the Hamming-1 config) (SURVEY.md §2.11).",
)
def q55(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ann_lsh_topk(
        emb, _query_vectors(spark, sf_dir), k=10,
        n_planes=5, n_tables=8, multiprobe_bits=2,
    )


@query(
    "q73_ann_ivf_topk",
    None,
    "Q38 scale path #2 (rows-only): IVF coarse quantizer — k-means "
    "centroids over unit-normalized vectors, inverted-list cell "
    "assignment, n_probe nearest cells per query, exact cosine on the "
    "probed members only (SURVEY.md §2.11). Approximate by "
    "construction; recall gated vs q38 in tests.",
)
def q73(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    # corpus-adaptive nlist/nprobe (derive_ivf_params) — fixed 32/12
    # starved recall at small corpora and under-celled large ones;
    # corpus_n comes from the parquet footer, no count() job.
    # min_probed_frac=0.8: the fixture embeddings are i.i.d. (no
    # cluster structure), where recall tracks the probed fraction
    # almost linearly (docs/SCALEPROOF.md Finding 3) — 0.55 landed
    # recall exactly ON the 0.9 invariant gate in BENCH_r09 (one
    # k-means-seed wobble from red; 0.967 in r8; 0.7 measured 0.933),
    # so the floor buys ~0.95+ with margin. Clustered production corpora should leave
    # the default 0.0 — the mog scale proof (the ann_clustered case of
    # tools/scale_proof.py) holds its recall probing ~3% of members
    return similarity.ann_ivf_topk(
        emb, _query_vectors(spark, sf_dir), k=10,
        n_cells=None, n_probe=None, corpus_n=table_rows(sf_dir, "embeddings"),
        min_probed_frac=0.8,
    )


# ---------------------------------------------------------------------------
# §2.11 text analysis
# ---------------------------------------------------------------------------


@query(
    "q39_word_count",
    """SELECT word, COUNT(*) AS n FROM (
         SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
       WHERE word != '' GROUP BY word""",
    "Q39: corpus word count — explode(tokens) → groupBy(word); "
    "map-side partial agg keeps the shuffle at vocab size.",
)
def q39(spark, sf_dir):
    return textops.word_count(_t(spark, sf_dir, "documents"))


@query(
    "q44_quality_score",
    """WITH t AS (SELECT doc_id,
                    list_filter(string_split(text, ' '), x -> x != '') AS toks
                  FROM documents),
         s AS (SELECT doc_id,
                 len(toks) AS n_tokens,
                 list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE))) / len(toks) AS mwl,
                 len(list_filter(toks, x -> x IN ('the','a','an','of','to','and')))
                   / CAST(len(toks) AS DOUBLE) AS sr,
                 len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) AS dr
               FROM t)
       SELECT doc_id, n_tokens,
              ROUND(mwl * 1000000) / 1000000 AS mean_word_len,
              ROUND(sr * 1000000) / 1000000 AS stopword_ratio,
              ROUND(dr * 1000000) / 1000000 AS distinct_ratio,
              (n_tokens >= 10 AND mwl >= 2.0 AND mwl <= 12.0 AND dr >= 0.1)
                AS passes_quality
       FROM s""",
    "Q44: document quality scoring — length / mean word length / "
    "stopword ratio / distinct-token ratio, Gopher-ish composite "
    "(SURVEY.md §2.11). Pure expressions, no shuffle.",
)
def q44(spark, sf_dir):
    return textops.quality_score(_t(spark, sf_dir, "documents"))


@query(
    "q45_token_count",
    """SELECT doc_id, length(text) AS n_chars,
              len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens_ws,
              len(regexp_extract_all(text, '[a-zA-Z0-9]+')) AS n_tokens_re,
              len(list_distinct(list_filter(string_split(text, ' '), x -> x != '')))
                AS n_tokens_distinct
       FROM documents""",
    "Q45: token counting — whitespace tokens, regex word tokens "
    "(BPE-ish pre-tokenization), distinct tokens (SURVEY.md §2.11).",
)
def q45(spark, sf_dir):
    df = textops.token_stats(_t(spark, sf_dir, "documents"))
    return df.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens_ws").cast("long").alias("n_tokens_ws"),
        F.col("n_tokens_re").cast("long").alias("n_tokens_re"),
        F.col("n_tokens_distinct").cast("long").alias("n_tokens_distinct"),
    )


@query(
    "q46_fingerprint",
    """SELECT doc_id,
              md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
              substring(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 8)
                AS shard_key
       FROM documents""",
    "Q46: document fingerprinting — md5 of normalized text + 8-hex "
    "shard prefix (what a 100 TB dedup partitions on).",
)
def q46(spark, sf_dir):
    return textops.fingerprint(_t(spark, sf_dir, "documents"))


@query(
    "q47_lang_id",
    """WITH t AS (SELECT doc_id,
                    list_filter(string_split(text, ' '), x -> x != '') AS toks
                  FROM documents),
         s AS (SELECT doc_id,
                 len(list_filter(toks, x -> x IN ('der','die','das','und'))) AS score_de,
                 len(list_filter(toks, x -> x IN ('the','a','value','fast'))) AS score_en,
                 len(list_filter(toks, x -> x IN ('el','la','los','que'))) AS score_es,
                 len(list_filter(toks, x -> x IN ('le','la','les','et'))) AS score_fr,
                 len(list_filter(toks, x -> x IN ('zh','ni','hao','ma'))) AS score_zh
               FROM t)
       SELECT doc_id, score_de, score_en, score_es, score_fr, score_zh,
              CASE WHEN score_de = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'de'
                   WHEN score_en = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'en'
                   WHEN score_es = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'es'
                   WHEN score_fr = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'fr'
                   ELSE 'zh' END AS pred_lang
       FROM s""",
    "Q47: language-ID heuristic — marker-word hit counts per language, "
    "deterministic argmax; narrow map, zero shuffle (SURVEY.md §2.11).",
)
def q47(spark, sf_dir):
    df = textops.language_id(_t(spark, sf_dir, "documents"))
    return df.select(
        "doc_id",
        *[F.col(f"score_{l}").cast("long").alias(f"score_{l}") for l in ("de", "en", "es", "fr", "zh")],
        "pred_lang",
    )


# ---------------------------------------------------------------------------
# as-of / range joins (engine-added temporal operators)
# ---------------------------------------------------------------------------


@query(
    "q48_asof_join",
    """SELECT e.event_id, c.event_id AS click_id, c.ts AS click_ts
       FROM events e
       ASOF LEFT JOIN (SELECT user_id, ts, event_id
                       FROM events WHERE event_type = 'click') c
         ON e.user_id = c.user_id AND e.ts >= c.ts""",
    "Q48: as-of join — for each event, the most recent click by the "
    "same user at/before ts. Spark has no native ASOF; implemented as "
    "union + partitioned sort + last_value carry-forward (single "
    "shuffle, linear per key — no range-join explosion).",
)
def q48(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("rts"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    return asof.asof_join(
        ev.select("event_id", "user_id", "ts"),
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="rts",
        right_vals=["click_id", "click_ts"],
        tie_col="click_id",
    ).select("event_id", "click_id", "click_ts")


@query(
    "q49_range_join",
    """SELECT event_id, bucket FROM events
       JOIN (VALUES (0.0, 50.0, 'low'), (50.0, 150.0, 'mid'),
                    (150.0, 1000.0, 'high')) AS b(lo, hi, bucket)
         ON value >= lo AND value < hi""",
    "Q49: range join — fact rows to the containing interval of a "
    "small bounds table; broadcast nested-loop (at large dim "
    "cardinality: bucketized equi-join instead).",
)
def q49(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    bounds = spark.createDataFrame(
        [(0.0, 50.0, "low"), (50.0, 150.0, "mid"), (150.0, 1000.0, "high")],
        "lo double, hi double, bucket string",
    )
    return asof.range_join(ev, bounds, "value", "lo", "hi").select("event_id", "bucket")


# ---------------------------------------------------------------------------
# §2.10 streaming surface (batch-checkable) — sliding & session windows
# ---------------------------------------------------------------------------


@query(
    "q50_sliding_window",
    """WITH k AS (SELECT unnest([0, 1]) AS k),
         w AS (SELECT e.event_type, e.value,
                 TIMESTAMP '1970-01-01'
                   + (CAST(floor((epoch(e.ts) - k.k * 10800) / 21600) AS BIGINT) * 21600
                      + k.k * 10800) * INTERVAL 1 SECOND AS window_start
               FROM events e, k)
       SELECT window_start,
              window_start + INTERVAL 21600 SECOND AS window_end,
              event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
       FROM w GROUP BY 1, 2, 3""",
    "Q50: sliding window (6h window, 3h slide) — F.window duplicates "
    "each row into its covering windows; the same operator Structured "
    "Streaming uses (SURVEY.md §2.10).",
)
def q50(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "q51_session_window",
    """WITH o AS (SELECT user_id, ts,
                    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                          OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             >= INTERVAL 30 MINUTE
                         THEN 1 ELSE 0 END AS new_s
                  FROM events),
         s AS (SELECT user_id, ts,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
               FROM o)
       SELECT user_id, MIN(ts) AS session_start,
              MAX(ts) + INTERVAL 30 MINUTE AS session_end,
              COUNT(*) AS n_events
       FROM s GROUP BY user_id, sid""",
    "Q51: session window (30 min gap) — F.session_window, the "
    "Structured Streaming stateful operator, batch-checked against a "
    "gaps-and-islands oracle (SURVEY.md §2.10).",
)
def q51(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# §2.8 UDF surface
# ---------------------------------------------------------------------------


@query(
    "q34_python_udf",
    None,
    "Q34 (rows-only): scalar Python UDF — deliberately the slow path "
    "(SURVEY.md §2.8); registered for SQL too. Kept out of every "
    "oracle-checked hot path.",
)
def q34(spark, sf_dir):
    from climate_data_pipelines_spark.functions.udfs import type_weight

    spark.udf.register("type_weight", type_weight)
    ev = _t(spark, sf_dir, "events")
    return ev.select("event_id", type_weight("event_type").alias("weight"))


@query(
    "q56_pandas_udf",
    """SELECT event_id, (CAST(floor(value) AS BIGINT) % 3 = 0) AS is_land
       FROM events WHERE value IS NOT NULL""",
    "Q56: vectorized pandas UDF (U2 — the globe.is_land probe shape, "
    "precipitation_pipeline.py:160): Arrow-batched Series→Series; "
    "oracle-checked because the stub mask is SQL-expressible.",
)
def q56(spark, sf_dir):
    from climate_data_pipelines_spark.functions.udfs import is_land_stub

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return ev.select("event_id", is_land_stub("value").alias("is_land"))


@query(
    "q57_grouped_pandas",
    """SELECT event_id,
              ROUND((value - AVG(value) OVER (PARTITION BY event_type))
                    / stddev_samp(value) OVER (PARTITION BY event_type) * 1000000)
                / 1000000 AS z_score
       FROM events WHERE value IS NOT NULL""",
    "Q57: grouped applyInPandas (U3, UDTF-shaped) — per-group "
    "z-score normalization in pandas, checked against the window-"
    "function oracle.",
)
def q57(spark, sf_dir):
    from climate_data_pipelines_spark.functions.udfs import ZSCORE_SCHEMA, zscore_per_group

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return (
        ev.select("event_id", "event_type", "value")
        .groupBy("event_type")
        .applyInPandas(zscore_per_group, schema=ZSCORE_SCHEMA)
    )


# ---------------------------------------------------------------------------
# §2.11 multimodal columns
# ---------------------------------------------------------------------------


@query(
    "q53_multimodal_meta",
    """SELECT doc_id, 'image/fake' AS media_type,
              octet_length(encode(text)) AS n_bytes,
              md5(text) AS payload_md5
       FROM documents""",
    "Q53: multimodal binary columns — opaque payload + typed metadata "
    "struct; digest computed on the binary (SURVEY.md §2.11).",
)
def q53(spark, sf_dir):
    bdf = multimodal.attach_binary_payload(_t(spark, sf_dir, "documents"))
    return bdf.select(
        "doc_id",
        F.col("media_meta.media_type").alias("media_type"),
        F.col("media_meta.n_bytes").cast("long").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
    )


@query(
    "q54_image_features",
    None,
    "Q54 (rows-only): Arrow-batched image decode/feature-extract over "
    "mapInPandas — REAL PNG path: each doc's bytes render to a gray8 "
    "PNG, the dependency-free decoder (zlib inflate + scanline "
    "unfilter) computes actual pixel stats; non-PNG media fall back "
    "to the labeled stub (SURVEY.md §2.11).",
)
def q54(spark, sf_dir):
    bdf = multimodal.text_as_png_payload(_t(spark, sf_dir, "documents"))
    return multimodal.extract_image_features(bdf)


# ---------------------------------------------------------------------------
# §2.7 F7/F8: GeoJSON assembly (the reference's output format)
# ---------------------------------------------------------------------------


@query(
    "q32_geojson_feature",
    """SELECT event_id,
              '{"type":"Feature","geometry":{"type":"Polygon","coordinates":[[['
              || printf('%.4f,%.4f', value - 0.3125, value * 0.5 - 0.25) || '],['
              || printf('%.4f,%.4f', value + 0.3125, value * 0.5 - 0.25) || '],['
              || printf('%.4f,%.4f', value + 0.3125, value * 0.5 + 0.25) || '],['
              || printf('%.4f,%.4f', value - 0.3125, value * 0.5 + 0.25) || '],['
              || printf('%.4f,%.4f', value - 0.3125, value * 0.5 - 0.25)
              || ']]]},"properties":{"event_id":' || CAST(event_id AS VARCHAR) || '}}'
                AS feature_json
       FROM events WHERE value IS NOT NULL""",
    "F7/F8 (Q32): GeoJSON Feature serialization — the reference's "
    "feature dict + json.dump (precipitation_pipeline.py:210-232) as "
    "one string expression; ring order [SW,SE,NE,NW,SW], fixed-decimal "
    "coordinate formatting.",
)
def q32(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = F.col("value")
    w_, e_, s_, n_ = v - 0.3125, v + 0.3125, v * 0.5 - 0.25, v * 0.5 + 0.25

    def pt(x, y):
        return F.format_string("%.4f,%.4f", x, y)

    feature = F.concat(
        F.lit('{"type":"Feature","geometry":{"type":"Polygon","coordinates":[[['),
        pt(w_, s_), F.lit("],["), pt(e_, s_), F.lit("],["),
        pt(e_, n_), F.lit("],["), pt(w_, n_), F.lit("],["), pt(w_, s_),
        F.lit(']]]},"properties":{"event_id":'),
        F.col("event_id").cast("string"),
        F.lit("}}"),
    )
    return ev.select("event_id", feature.alias("feature_json"))


# ---------------------------------------------------------------------------
# §2.4 extended grouping + pivot/unpivot
# ---------------------------------------------------------------------------


@query(
    "q58_cube_grouping",
    """SELECT l_returnflag, l_linestatus,
              GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls,
              ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n
       FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",
    "Q19 extension: CUBE grouping sets with GROUPING() indicators "
    "(df.cube + F.grouping).",
)
def q58(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("long").alias("g_rf"),
        F.grouping("l_linestatus").cast("long").alias("g_ls"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n"),
    ).select("l_returnflag", "l_linestatus", "g_rf", "g_ls", "sum_qty", "n")


@query(
    "q59_approx_count_distinct",
    None,
    "Q18 sketch path (rows-only): approx_count_distinct (HyperLogLog++) "
    "— sketch values differ from exact by design; tests bound the "
    "relative error instead.",
)
def q59(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts")
    )


@query(
    "q60_percentiles",
    """SELECT o_orderstatus,
              ROUND(quantile_cont(o_totalprice, 0.25) * 10000) / 10000 AS p25,
              ROUND(quantile_cont(o_totalprice, 0.50) * 10000) / 10000 AS p50,
              ROUND(quantile_cont(o_totalprice, 0.75) * 10000) / 10000 AS p75
       FROM orders GROUP BY o_orderstatus""",
    "Engine-added: exact interpolated percentiles (F.percentile ≡ "
    "quantile_cont). The 100 TB path is approx_percentile (t-digest) — "
    "exercised rows-only in tests.",
)
def q60(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        oround(F.percentile("o_totalprice", F.lit(0.25)), 4).alias("p25"),
        oround(F.percentile("o_totalprice", F.lit(0.50)), 4).alias("p50"),
        oround(F.percentile("o_totalprice", F.lit(0.75)), 4).alias("p75"),
    )


@query(
    "q61_unpivot",
    """SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS val FROM lineitem
       UNION ALL
       SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
       UNION ALL
       SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
       UNION ALL
       SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem""",
    "P7 (wide→long): unpivot/melt of measure columns — the reference's "
    "dynamic column pick (population_pipeline.py:43) done relationally "
    "(df.unpivot ≡ stack()).",
)
def q61(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "val",
    ).withColumn("measure", F.expr("substring(measure, 3)"))


@query(
    "q62_pivot",
    """SELECT year(l_shipdate) AS ship_year,
              ROUND(SUM(l_quantity) FILTER (l_returnflag = 'A'), 2) AS qty_a,
              ROUND(SUM(l_quantity) FILTER (l_returnflag = 'N'), 2) AS qty_n,
              ROUND(SUM(l_quantity) FILTER (l_returnflag = 'R'), 2) AS qty_r
       FROM lineitem GROUP BY 1""",
    "Long→wide pivot (df.groupBy().pivot()) — per-year quantity by "
    "return flag.",
)
def q62(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = (
        li.withColumn("ship_year", F.year("l_shipdate"))
        .groupBy("ship_year")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return p.select(
        "ship_year",
        F.col("A").alias("qty_a"),
        F.col("N").alias("qty_n"),
        F.col("R").alias("qty_r"),
    )


# ---------------------------------------------------------------------------
# §2.7 function suites: string / math / array / date / regexp
# ---------------------------------------------------------------------------


@query(
    "q63_string_suite",
    """SELECT event_id,
              upper(event_type) AS up, lower(event_type) AS lo,
              substring(event_type, 1, 3) AS sub3,
              reverse(event_type) AS rev,
              repeat(event_type, 2) AS rep2,
              replace(event_type, 'c', 'k') AS repl,
              length(event_type) AS slen,
              instr(event_type, 'i') AS pos_i
       FROM events""",
    "F5/F6 (string library): case, substring, reverse, repeat, "
    "replace, length, position.",
)
def q63(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    c = F.col("event_type")
    return ev.select(
        "event_id",
        F.upper(c).alias("up"),
        F.lower(c).alias("lo"),
        F.substring(c, 1, 3).alias("sub3"),
        F.reverse(c).alias("rev"),
        F.repeat(c, 2).alias("rep2"),
        F.replace(c, F.lit("c"), F.lit("k")).alias("repl"),
        F.length(c).cast("long").alias("slen"),
        F.instr(c, "i").cast("long").alias("pos_i"),
    )


@query(
    "q64_math_suite",
    """SELECT l_orderkey, l_linenumber,
              ROUND(sqrt(l_quantity) * 1000000) / 1000000 AS sqrt_qty,
              ROUND(ln(l_quantity + 1) * 1000000) / 1000000 AS ln_qty,
              ROUND(exp(l_discount) * 1000000) / 1000000 AS exp_disc,
              ROUND(pow(l_quantity, 2) * 100) / 100 AS qty_sq,
              CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
              CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
              CAST(sign(l_discount - l_tax) AS BIGINT) AS rate_sign,
              CAST(l_linenumber % 3 AS BIGINT) AS mod3,
              greatest(l_discount, l_tax) AS max_rate,
              least(l_discount, l_tax) AS min_rate
       FROM lineitem""",
    "F3/F4 (math library): sqrt/ln/exp/pow/floor/ceil/sign/mod/"
    "greatest/least.",
)
def q64(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    q, d, t, p = F.col("l_quantity"), F.col("l_discount"), F.col("l_tax"), F.col("l_extendedprice")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        oround(F.sqrt(q), 6).alias("sqrt_qty"),
        oround(F.log(q + 1), 6).alias("ln_qty"),
        oround(F.exp(d), 6).alias("exp_disc"),
        oround(F.pow(q, 2), 2).alias("qty_sq"),
        F.floor(p).alias("price_floor"),
        F.ceil(p).alias("price_ceil"),
        F.signum(d - t).cast("long").alias("rate_sign"),
        (F.col("l_linenumber") % 3).cast("long").alias("mod3"),
        F.greatest(d, t).alias("max_rate"),
        F.least(d, t).alias("min_rate"),
    )


@query(
    "q65_conditional_suite",
    """SELECT event_id,
              coalesce(nullif(event_type, 'click'), 'was_click') AS not_click,
              CASE WHEN value >= 100 THEN 'high'
                   WHEN value >= 50 THEN 'mid'
                   WHEN value IS NULL THEN 'unknown'
                   ELSE 'low' END AS value_band,
              ifnull(value, -1.0) AS value_or_default
       FROM events""",
    "Conditional expressions: coalesce/nullif/CASE/ifnull (SQL "
    "tri-state logic the reference's pandas NaN semantics lacked).",
)
def q65(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    return ev.select(
        "event_id",
        F.coalesce(F.nullif(F.col("event_type"), F.lit("click")), F.lit("was_click")).alias("not_click"),
        F.when(v >= 100, "high").when(v >= 50, "mid").when(v.isNull(), "unknown").otherwise("low").alias("value_band"),
        F.ifnull(v, F.lit(-1.0)).alias("value_or_default"),
    )


@query(
    "q66_array_suite",
    """SELECT vec_id,
              len(embedding) AS dim,
              ROUND(CAST(embedding[1] AS DOUBLE) * 1000000) / 1000000 AS first_elem,
              ROUND(CAST(embedding[64] AS DOUBLE) * 1000000) / 1000000 AS last_elem,
              ROUND(CAST(list_max(embedding) AS DOUBLE) * 1000000) / 1000000 AS max_elem,
              ROUND(list_sum(CAST(list_slice(embedding, 1, 8) AS DOUBLE[])) * 1000000) / 1000000
                AS head_sum
       FROM embeddings""",
    "F7 (array library): size/element_at/slice/array_max + "
    "higher-order aggregate over a slice.",
)
def q66(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    head_sum = F.aggregate(
        F.slice(e, 1, 8), F.lit(0.0), lambda acc, x: acc + x.cast("double")
    )
    return emb.select(
        "vec_id",
        F.size(e).cast("long").alias("dim"),
        oround(F.element_at(e, 1).cast("double"), 6).alias("first_elem"),
        oround(F.element_at(e, 64).cast("double"), 6).alias("last_elem"),
        oround(F.array_max(e).cast("double"), 6).alias("max_elem"),
        oround(head_sum, 6).alias("head_sum"),
    )


@query(
    "q67_date_suite",
    """SELECT o_orderkey,
              year(o_orderdate) AS y, quarter(o_orderdate) AS q,
              dayofyear(o_orderdate) AS doy,
              isodow(o_orderdate) - 1 AS wd,
              CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
              CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
              CAST(o_orderdate + INTERVAL 3 MONTH AS TIMESTAMP) AS plus3m,
              date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since
       FROM orders""",
    "F1/F2 (date library): parts, truncation, month arithmetic with "
    "end-of-month clamping, day diffs.",
)
def q67(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).cast("long").alias("y"),
        F.quarter(d).cast("long").alias("q"),
        F.dayofyear(d).cast("long").alias("doy"),
        F.weekday(d).cast("long").alias("wd"),
        F.date_trunc("month", d).cast("timestamp_ntz").alias("month_start"),
        F.last_day(d).cast("string").alias("month_end"),
        F.add_months(d, 3).cast("timestamp_ntz").alias("plus3m"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("long").alias("days_since"),
    )


@query(
    "q68_regexp_suite",
    """SELECT doc_id,
              regexp_extract(text, '[a-z]*ing') AS first_ing,
              len(regexp_extract_all(text, 'the')) AS n_the,
              regexp_matches(text, 'spark') AS has_spark,
              regexp_replace(text, '[aeiou]', '_', 'g') AS devoweled
       FROM documents""",
    "F6 (regexp library): extract, count, match, global replace.",
)
def q68(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.regexp_extract(t, "[a-z]*ing", 0).alias("first_ing"),
        F.size(F.regexp_extract_all(t, F.lit("the"), F.lit(0))).cast("long").alias("n_the"),
        t.rlike("spark").alias("has_spark"),
        F.regexp_replace(t, "[aeiou]", "_").alias("devoweled"),
    )


@query(
    "q69_sample",
    None,
    "TABLESAMPLE (rows-only): seeded Bernoulli sample — engine-"
    "deterministic, not oracle-reproducible (different PRNGs). The "
    "--drop-densest size-budget analog (SURVEY.md §4).",
)
def q69(spark, sf_dir):
    # fraction= MUST be the keyword: sample(0.1, seed=42) hits the
    # (fraction, seed) positional overload and silently DROPS the
    # keyword seed — the r7 determinism invariant caught the plan
    # carrying a random seed
    return _t(spark, sf_dir, "lineitem").sample(fraction=0.1, seed=42).select(
        "l_orderkey", "l_linenumber"
    )


@query(
    "q84_stratified_sample",
    None,
    "Stratified sampling (rows-only): per-stratum Bernoulli fractions "
    "via sampleBy — the class-balanced training-subset draw; seeded "
    "and engine-deterministic, not oracle-reproducible (PRNG differs).",
)
def q84(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    fractions = {"click": 0.05, "view": 0.02, "purchase": 0.5, "signup": 0.5, "error": 1.0}
    return ev.sampleBy("event_type", fractions, seed=42).select(
        "event_id", "event_type"
    )


@query(
    "q70_rank_suite",
    """SELECT o_orderkey, o_orderstatus,
              RANK() OVER w AS rnk,
              DENSE_RANK() OVER w AS drnk,
              ROUND(PERCENT_RANK() OVER w * 1000000) / 1000000 AS prnk,
              ROUND(CUME_DIST() OVER w * 1000000) / 1000000 AS cdist,
              NTILE(4) OVER (PARTITION BY o_orderstatus
                             ORDER BY o_totalprice DESC, o_orderkey) AS quartile,
              LEAD(o_orderkey, 1) OVER (PARTITION BY o_orderstatus
                                        ORDER BY o_totalprice DESC, o_orderkey) AS next_key,
              LAG(o_orderkey, 1) OVER (PARTITION BY o_orderstatus
                                       ORDER BY o_totalprice DESC, o_orderkey) AS prev_key
       FROM orders
       WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC)""",
    "W3 extension: full ranking-function suite (rank/dense_rank/"
    "percent_rank/cume_dist/ntile/lead/lag).",
)
def q70(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(F.desc("o_totalprice"))
    wt = Window.partitionBy("o_orderstatus").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        oround(F.percent_rank().over(w), 6).alias("prnk"),
        oround(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(wt).cast("long").alias("quartile"),
        F.lead("o_orderkey", 1).over(wt).alias("next_key"),
        F.lag("o_orderkey", 1).over(wt).alias("prev_key"),
    )


@query(
    "q71_value_windows",
    """SELECT event_id, user_id,
              FIRST_VALUE(value) OVER w AS first_val,
              LAST_VALUE(value) OVER w AS latest_val,
              NTH_VALUE(value, 2) OVER w AS second_val,
              ROUND(SUM(value) OVER w * 10000) / 10000 AS running_sum
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    "W4 extension: value windows (first/last/nth) + running sum over "
    "an explicit frame.",
)
def q71(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w).alias("latest_val"),
        F.nth_value("value", 2).over(w).alias("second_val"),
        oround(F.sum("value").over(w), 4).alias("running_sum"),
    )


@query(
    "q106_decontaminate",
    """WITH t AS (SELECT doc_id, source,
                    list_filter(string_split(text, ' '), x -> x != '') AS toks
                  FROM documents),
         sh AS (SELECT DISTINCT doc_id, source,
                       array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
                FROM t, UNNEST(generate_series(1, greatest(len(toks) - 2, 1))) AS u(i)),
         bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0')
       SELECT DISTINCT s.doc_id
       FROM sh s JOIN bench b USING (shingle)
       WHERE s.source <> 'src0'""",
    "Benchmark decontamination (north-star corpus prep): train docs "
    "sharing any 3-token shingle with the benchmark set (source=src0 "
    "stands in for the eval corpus). Benchmark shingles broadcast — "
    "the train side is never shuffled on the shingle key, so the plan "
    "holds when train is 100 TB and the benchmark is MBs.",
)
def q106(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    return training.contaminated_ids(train, bench, k=3)


@query(
    "q107_hash_split",
    """SELECT doc_id,
              CAST(CAST('0x' || substring(md5('split-v1' || CAST(doc_id AS VARCHAR)), 1, 15)
                        AS BIGINT) % 100 AS BIGINT) AS bucket,
              CASE WHEN CAST('0x' || substring(md5('split-v1' || CAST(doc_id AS VARCHAR)), 1, 15)
                        AS BIGINT) % 100 < 80 THEN 'train'
                   WHEN CAST('0x' || substring(md5('split-v1' || CAST(doc_id AS VARCHAR)), 1, 15)
                        AS BIGINT) % 100 < 90 THEN 'val'
                   ELSE 'test' END AS split
       FROM documents""",
    "Deterministic train/val/test split by content-stable md5 "
    "bucketing — stateless per-row hash, no sampling state, no "
    "shuffle; a doc's split never changes when the corpus grows "
    "(unlike randomSplit). Same digest expression on both engines.",
)
def q107(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return training.hash_split(docs).select("doc_id", "bucket", "split")


@query(
    "q108_pack_sequences",
    """WITH n AS (SELECT doc_id, lang,
                    len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens
                  FROM documents)
       SELECT doc_id, lang, n_tokens,
              CAST(floor(CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          - n_tokens AS DOUBLE) / 512) AS BIGINT) AS pack_id
       FROM n""",
    "Budget-quantized sequence packing for training batches: docs in "
    "stable id order get pack_id = floor(cum_tokens_before/budget), "
    "one running-sum window per lang shard — per-shard bounded state "
    "is the distributed packing compromise (exact first-fit is "
    "inherently sequential).",
)
def q108(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    from climate_data_pipelines_spark.functions.text import tokens

    n = docs.select(
        "doc_id", "lang", F.size(tokens("text")).alias("n_tokens")
    )
    return training.pack_sequences(
        n, n_tokens_col="n_tokens", budget=512, shard_col="lang"
    )


@query(
    "q109_tfidf_top_term",
    """WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != ''))
                      AS token
                    FROM documents),
         tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS dfreq FROM tok GROUP BY 1),
         scored AS (SELECT doc_id, token,
                           tf * ln(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) / dfreq)
                             AS score
                    FROM tf JOIN dfreq USING (token)),
         ranked AS (SELECT doc_id, token, score,
                           row_number() OVER (PARTITION BY doc_id
                                              ORDER BY score DESC, token) AS rn
                    FROM scored)
       SELECT doc_id, token AS top_token,
              ROUND(score * 1000000) / 1000000 AS score
       FROM ranked WHERE rn = 1""",
    "Per-document top TF-IDF term (corpus keywording for domain "
    "mixing): explode → two keyed aggs, vocabulary dim broadcast, "
    "per-doc argmax via min_by on a (-score, token) struct — a single "
    "partial+final hash agg instead of a rank window sort over the "
    "full exploded table.",
)
def q109(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = training.tfidf_top_term(docs)
    return out.select("doc_id", "top_token", oround(F.col("score"), 6).alias("score"))


@query(
    "q110_per_key_trend",
    """SELECT user_id,
              ROUND(regr_slope(value, CAST(epoch(ts) - 1600000000 AS DOUBLE)) * 86400.0 * 10000)
                / 10000 AS slope_per_day,
              COUNT(*) AS n_obs
       FROM events WHERE NOT isnan(value)
       GROUP BY user_id""",
    "Per-cell linear trend (the warming-rate map): OLS slope of value "
    "vs time per key as one partial/final hash aggregate — no window, "
    "no collect. Epoch is shifted before squaring so the covariance "
    "doesn't cancel at double precision; slope reported per day.",
)
def q110(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(~F.isnan("value"))
    out = climate.per_key_trend(ev, ["user_id"], ts_col="ts", value_col="value")
    return out.select(
        "user_id",
        oround(F.col("slope_per_day"), 4).alias("slope_per_day"),
        "n_obs",
    )


@query(
    "q111_vocab_topk",
    """WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != ''))
                      AS token
                    FROM documents),
         per_doc AS (SELECT token, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         freqs AS (SELECT token, COUNT(*) AS doc_freq,
                          CAST(SUM(tf) AS BIGINT) AS term_freq
                   FROM per_doc GROUP BY 1)
       SELECT token, doc_freq, term_freq
       FROM freqs
       ORDER BY doc_freq DESC, term_freq DESC, token
       LIMIT 100""",
    "Corpus vocabulary: top-100 tokens by document frequency "
    "(tokenizer-training / stopword-discovery primitive). Two-level "
    "agg instead of a count-distinct shuffle of raw pairs; the global "
    "top-k plans as TakeOrderedAndProject — per-partition k rows, "
    "driver merges k x partitions, no global sort materializes.",
)
def q111(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return textops.vocab_topk(docs, k=100)


@query(
    "q112_shuffle_batches",
    """SELECT doc_id,
              CAST('0x' || substring(md5('shuffle-v1|b' || CAST(doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) % 16 AS batch_id,
              CAST(row_number() OVER (
                     PARTITION BY CAST('0x' || substring(md5('shuffle-v1|b' || CAST(doc_id AS VARCHAR)), 1, 15)
                                       AS BIGINT) % 16
                     ORDER BY md5('shuffle-v1' || CAST(doc_id AS VARCHAR)), doc_id)
                AS INT) AS pos
       FROM documents""",
    "Deterministic corpus shuffle into fixed microbatches: "
    "content-stable md5 ordering (reproducible across runs/engines, "
    "unlike rand()) with per-batch rank — the only window is "
    "per-batch, bounded partitions, no global sort.",
)
def q112(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = training.shuffle_batches(docs, n_batches=16)
    return out.select("doc_id", "batch_id", "pos")


@query(
    "q113_label_centroids",
    """WITH dims AS (SELECT label, u.dim, embedding[u.dim] AS x
                     FROM embeddings,
                          UNNEST(generate_series(1, len(embedding))) AS u(dim)),
         per_dim AS (SELECT label, dim, AVG(CAST(x AS DOUBLE)) AS mean_x
                     FROM dims GROUP BY 1, 2),
         n AS (SELECT label, COUNT(*) AS n_vectors FROM embeddings GROUP BY 1)
       SELECT p.label,
              array_to_string(list(CAST(ROUND(mean_x * 1000000) AS BIGINT) ORDER BY dim), ',')
                AS centroid_micro,
              n.n_vectors
       FROM per_dim p JOIN n USING (label)
       GROUP BY p.label, n.n_vectors""",
    "Per-label embedding centroid (IVF coarse-quantizer / class "
    "prototype): posexplode then one hash agg keyed on (label, dim) — "
    "|labels| x dim groups regardless of corpus size, map-side "
    "combined; vectors reassembled ordered, never shuffled whole.",
)
def q113(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.label_centroids(emb)
    return out.select(
        "label",
        # Joined to a scalar in integer micro-units: the driver's pandas
        # canonicalizer cannot hash list cells (round-1 q99 driver-RED),
        # and double->string renders differently in Spark vs DuckDB.
        F.array_join(
            F.transform(
                "centroid", lambda x: F.round(x * 1e6).cast("long").cast("string")
            ),
            ",",
        ).alias("centroid_micro"),
        "n_vectors",
    )


@query(
    "q114_corpus_curation",
    """WITH t AS (SELECT doc_id, lang, text,
                    list_filter(string_split(text, ' '), x -> x != '') AS toks
                  FROM documents),
         q AS (SELECT doc_id, lang, text FROM t
               WHERE len(toks) >= 10
                 AND list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE)))
                       / len(toks) BETWEEN 2.0 AND 12.0
                 AND len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) >= 0.1),
         keep AS (SELECT MIN(doc_id) AS doc_id
                  FROM q
                  GROUP BY sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))),
         u AS (SELECT q.doc_id, q.lang FROM q JOIN keep USING (doc_id))
       SELECT doc_id, lang,
              CASE WHEN CAST('0x' || substring(md5('split-v1' || CAST(doc_id AS VARCHAR)), 1, 15)
                        AS BIGINT) % 100 < 80 THEN 'train'
                   WHEN CAST('0x' || substring(md5('split-v1' || CAST(doc_id AS VARCHAR)), 1, 15)
                        AS BIGINT) % 100 < 90 THEN 'val'
                   ELSE 'test' END AS split
       FROM u""",
    "End-to-end corpus curation composed from the standalone "
    "operators as ONE lazy plan — quality filter (shuffle-free) → "
    "exact dedup (the only exchange, 32-byte digest keys) → "
    "deterministic split (stateless projection). The Spark analog of "
    "the reference's file-per-stage pipeline chain.",
)
def q114(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = training.curate(docs)
    return out.select("doc_id", "lang", "split")


@query(
    "q115_degree_days",
    """SELECT user_id,
              CAST(year(ts) AS INT) AS year, CAST(month(ts) AS INT) AS month,
              ROUND(SUM(greatest(18.0 - value, 0.0)) * 10000) / 10000 AS hdd,
              ROUND(SUM(greatest(value - 18.0, 0.0)) * 10000) / 10000 AS cdd,
              COUNT(*) AS n_obs
       FROM events WHERE NOT isnan(value)
       GROUP BY 1, 2, 3""",
    "Heating/cooling degree-days per key and month (the energy-demand "
    "climate product): clamped sums in one partial+final hash "
    "aggregate — codegen'd greatest(), no UDF, no window.",
)
def q115(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(~F.isnan("value"))
    out = climate.degree_days(ev, ["user_id"])
    return out.select(
        "user_id",
        F.col("year").cast("int").alias("year"),
        F.col("month").cast("int").alias("month"),
        oround(F.col("hdd"), 4).alias("hdd"),
        oround(F.col("cdd"), 4).alias("cdd"),
        "n_obs",
    )


@query(
    "q116_domain_upsample",
    """WITH w AS (SELECT doc_id, source,
                    CASE WHEN source IN ('src0','src1','src2') THEN 3
                         WHEN source IN ('src3','src4') THEN 2
                         ELSE 1 END AS weight
                  FROM documents)
       SELECT doc_id, source, CAST(u.copy_idx AS INT) AS copy_idx
       FROM w, UNNEST(generate_series(1, weight)) AS u(copy_idx)""",
    "Deterministic domain-mix upsampling: high-weight sources are "
    "repeated N times via a generated sequence column (posexplode — "
    "no join, no sampling randomness), the epoch-level corpus mixing "
    "step of a training-data pipeline.",
)
def q116(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    w = docs.withColumn(
        "weight",
        F.when(F.col("source").isin("src0", "src1", "src2"), F.lit(3))
        .when(F.col("source").isin("src3", "src4"), F.lit(2))
        .otherwise(F.lit(1)),
    )
    out = training.upsample_by_weight(w, "weight")
    return out.select("doc_id", "source", F.col("copy_idx").cast("int").alias("copy_idx"))


@query(
    "q117_fractional_upsample",
    """WITH w AS (SELECT doc_id, source,
                    CASE WHEN source IN ('src0','src1','src2') THEN 2.5
                         WHEN source IN ('src3','src4') THEN 1.25
                         ELSE 0.8 END AS weight
                  FROM documents),
         n AS (SELECT doc_id, source,
                 CAST(FLOOR(weight) AS INT)
                 + CAST(CAST('0x' || substring(md5('upsample-v1' || CAST(doc_id AS VARCHAR)), 1, 15)
                             AS BIGINT) % 10000
                        < CAST(ROUND((weight - FLOOR(weight)) * 10000) AS BIGINT)
                        AS INT) AS n_copies
               FROM w)
       SELECT doc_id, source, CAST(u.copy_idx AS INT) AS copy_idx
       FROM n, UNNEST(generate_series(1, n_copies)) AS u(copy_idx)
       WHERE n_copies >= 1""",
    "Fractional-weight domain upsampling: weight 2.5 -> 2 copies for "
    "every row plus a 3rd for the deterministic hash-selected half; "
    "weight 0.8 -> deterministic 80% downsample. Stateless md5 bucket "
    "per row (no RNG, no shuffle), so the epoch mix is reproducible "
    "and the realized ratio converges to the target at corpus scale.",
)
def q117(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    w = docs.withColumn(
        "weight",
        F.when(F.col("source").isin("src0", "src1", "src2"), F.lit(2.5))
        .when(F.col("source").isin("src3", "src4"), F.lit(1.25))
        .otherwise(F.lit(0.8)),
    )
    out = training.upsample_fractional(w, "weight")
    return out.select(
        "doc_id", "source", F.col("copy_idx").cast("int").alias("copy_idx")
    )


@query(
    "q118_bigram_lm_score",
    """WITH t AS (SELECT doc_id,
                    list_filter(string_split(text, ' '), x -> x != '') AS toks
                  FROM documents),
         g AS (SELECT doc_id,
                      unnest([array_to_string(list_slice(toks, i, i + 1), ' ')
                              FOR i IN generate_series(1, len(toks) - 1)]) AS bigram
               FROM t WHERE len(toks) >= 2),
         bc AS (SELECT bigram, COUNT(*) AS c_bi FROM g GROUP BY 1),
         ctx AS (SELECT split_part(bigram, ' ', 1) AS w1, SUM(c_bi) AS c_w1
                 FROM bc GROUP BY 1)
       SELECT doc_id,
              COUNT(*) AS n_bigrams,
              ROUND(AVG(ln(CAST(c_bi AS DOUBLE) / CAST(c_w1 AS DOUBLE))) * 10000) / 10000
                AS avg_logprob
       FROM g
       JOIN bc USING (bigram)
       JOIN ctx ON split_part(g.bigram, ' ', 1) = ctx.w1
       GROUP BY doc_id""",
    "Corpus-trained bigram LM fluency score (perplexity-style quality "
    "signal): MLE P(w2|w1) from the corpus's own bigram counts, mean "
    "log-prob per document — one explode, two vocab-sized aggs, "
    "vocab-dim joins (SURVEY.md §2.11 quality scoring).",
)
def q118(spark, sf_dir):
    out = training.bigram_lm_score(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        oround(F.col("avg_logprob"), 4).alias("avg_logprob"),
    )


@query(
    "q119_line_dedup",
    """WITH t AS (SELECT doc_id,
                    list_filter(string_split(text, ' '), x -> x != '') AS toks
                  FROM documents),
         tok AS (SELECT doc_id, u.i - 1 AS pos, toks[u.i] AS token
                 FROM t, UNNEST(generate_series(1, len(toks))) AS u(i)),
         lines AS (SELECT doc_id, CAST(FLOOR(pos / 8) AS INT) AS line_id,
                          string_agg(token, ' ' ORDER BY pos) AS line
                   FROM tok GROUP BY 1, 2),
         kept AS (SELECT doc_id, line_id, line
                  FROM (SELECT *, row_number() OVER
                          (PARTITION BY line ORDER BY doc_id, line_id) AS rn
                        FROM lines)
                  WHERE rn = 1)
       SELECT doc_id,
              COUNT(*) AS n_lines_kept,
              md5(string_agg(line, ' ' ORDER BY line_id)) AS text_md5
       FROM kept GROUP BY doc_id""",
    "Corpus-wide line-level dedup (CCNet/Dolma boilerplate removal): "
    "fixed-width token lines, drop repeat occurrences keeping the "
    "first (min (doc_id,line_id)), reassemble survivors in order — "
    "posexplode + keyed aggs, no window over the corpus on the Spark "
    "side (min-struct agg instead), linear at 100 TB.",
)
def q119(spark, sf_dir):
    out = textops.line_dedup(_t(spark, sf_dir, "documents"), line_tokens=8)
    return out.select(
        "doc_id",
        F.col("n_lines_kept").cast("long").alias("n_lines_kept"),
        F.md5(F.col("text_dedup")).alias("text_md5"),
    )


@query(
    "q120_chunk_windows",
    """WITH t AS (SELECT doc_id,
                    list_filter(string_split(text, ' '), x -> x != '') AS toks
                  FROM documents),
         tok AS (SELECT doc_id, u.i - 1 AS pos, toks[u.i] AS token
                 FROM t, UNNEST(generate_series(1, len(toks))) AS u(i)),
         assigned AS (SELECT doc_id, pos, token,
                        unnest(generate_series(
                          GREATEST(0, CAST(ceil((pos - 15) / 12.0) AS INT)),
                          CAST(floor(pos / 12.0) AS INT))) AS chunk_id
                      FROM tok)
       SELECT doc_id, chunk_id,
              COUNT(*) AS n_tokens,
              md5(string_agg(token, ' ' ORDER BY pos)) AS chunk_md5
       FROM assigned GROUP BY 1, 2""",
    "Overlapping fixed-width context windows (window=16, stride=12): "
    "the training-example chunker — each token emits its bounded set "
    "of chunk ids, one keyed agg reassembles ordered chunk text; "
    "linear x overlap factor, no per-row quadratic expression.",
)
def q120(spark, sf_dir):
    out = training.chunk_windows(
        _t(spark, sf_dir, "documents"), window=16, stride=12
    )
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.md5(F.col("chunk_text")).alias("chunk_md5"),
    )


@query(
    "q121_dedup_keep_longest",
    """WITH h AS (SELECT doc_id, lang, source, n_chars,
                    sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS ch
                  FROM documents),
         k AS (SELECT doc_id,
                      row_number() OVER (PARTITION BY ch
                                         ORDER BY n_chars DESC, doc_id ASC) AS rn
               FROM h)
       SELECT h.doc_id, h.lang, h.source, h.n_chars
       FROM h JOIN k ON h.doc_id = k.doc_id
       WHERE k.rn = 1""",
    "Exact dedup with a quality keeper policy: per content cluster "
    "keep the LONGEST copy (ties -> smallest id) — real pipelines "
    "keep the un-truncated crawl, not the min id. One max_by "
    "aggregate on the 32-byte digest key + co-partitioned semi-join; "
    "no window over the dup group on the Spark side.",
)
def q121(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = dedup.exact_dedup_best(docs, score_col="n_chars")
    return out.select("doc_id", "lang", "source", "n_chars")


SIMHASH_BITS = 60
SIMHASH_BANDS = 4
# q178's hot-bucket salt cap: small enough to ENGAGE at the sf0.01
# oracle scale (max band-bucket width there is ~27), so the driver
# hash actually certifies the salted plan, not the no-op branch
SIMHASH_CAP = 8


def _simhash_ctes(bits: int = SIMHASH_BITS) -> str:
    """DuckDB CTE chain tok→hh→votes→fp reproducing
    ``dedup.simhash_md5`` bit-for-bit (md5 60-bit token hash, ±1 bit
    votes, sign-pack). Generated so the oracle tracks the bit width."""
    votes = ", ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    pack = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END)"
        for i in range(bits)
    )
    return f"""
         tok AS (SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
                 FROM documents),
         hh AS (SELECT doc_id,
                  CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) AS h
                FROM tok),
         votes AS (SELECT doc_id, {votes} FROM hh GROUP BY doc_id),
         fp AS (SELECT doc_id, {pack} AS simhash FROM votes)"""


# Token-budget mixture targets (q125): even sources are under budget
# (kept whole), odd sources over (thinned ~5x) — same constant drives
# the Spark dim and the oracle VALUES list.
TOKEN_MIX_TARGETS: dict[str, float] = {
    f"src{i}": (0.08 if i % 2 == 0 else 0.01) for i in range(20)
}


@query(
    "q123_simhash_fingerprints",
    f"""WITH{_simhash_ctes()}
       SELECT doc_id, simhash FROM fp""",
    "Oracle-checked SimHash (q42's xxhash64 variant is rows-only; this "
    "one swaps the token hash for the engine-portable md5 60-bit "
    "split): per-token ±1 bit votes, one conditional-sum aggregate "
    "per bit position (map-side combined, single shuffle on doc_id), "
    "sign vector packed into a positive BIGINT fingerprint.",
)
def q123(spark, sf_dir):
    return dedup.simhash_md5(
        _t(spark, sf_dir, "documents"), bits=SIMHASH_BITS
    )


@query(
    "q124_simhash_candidates",
    f"""WITH{_simhash_ctes()},
         bands AS (SELECT doc_id, simhash, g.band,
                     (simhash >> (g.band * {SIMHASH_BITS // SIMHASH_BANDS}))
                       & {(1 << (SIMHASH_BITS // SIMHASH_BANDS)) - 1} AS bv
                   FROM fp,
                        (SELECT unnest(generate_series(0, {SIMHASH_BANDS - 1})) AS band) g)
       SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       FROM bands a JOIN bands b
         ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
       WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_BANDS - 1}""",
    "VERIFIED Hamming near-dup pairs over the packed SimHash: the "
    "60-bit fingerprint splits into 4 15-bit bands; by pigeonhole, "
    "any pair differing in fewer than 4 bits shares an exact band — "
    "the equi-join on (band, band_value) finds every Hamming<=3 pair "
    "with no pairwise scan, and the exact popcount-of-xor filter "
    "(pure expression) runs BEFORE the distinct so the dedup shuffle "
    "carries only true near-dups. The r5 scale-proof motivated the "
    "verify stage: on a distributionally homogeneous corpus raw band "
    "collisions grow ~n^2 (286k at 5k docs) while true Hamming<=3 "
    "pairs stay sparse (442).",
)
def q124(spark, sf_dir):
    fp = dedup.simhash_md5(_t(spark, sf_dir, "documents"), bits=SIMHASH_BITS)
    return dedup.simhash_band_candidates(
        fp, bits=SIMHASH_BITS, bands=SIMHASH_BANDS, hamming_max=SIMHASH_BANDS - 1
    )


@query(
    "q125_token_budget_mix",
    f"""WITH toks AS (SELECT doc_id, source, text, lang, n_chars,
                        len(list_filter(string_split(text, ' '), x -> x != ''))
                          AS n_tok
                      FROM documents),
         dom AS (SELECT source, SUM(n_tok) AS dom_tokens FROM toks GROUP BY source),
         tot AS (SELECT SUM(n_tok) AS total_tokens FROM toks),
         tgt (source, target_frac) AS (VALUES {", ".join(f"('{s}', {f})" for s, f in TOKEN_MIX_TARGETS.items())}),
         rates AS (SELECT d.source,
                     LEAST(1.0, t.target_frac * tot.total_tokens / d.dom_tokens)
                       AS keep_rate
                   FROM dom d CROSS JOIN tot JOIN tgt t ON t.source = d.source)
       SELECT k.doc_id, k.source, k.n_tok,
              ROUND(r.keep_rate * 1000000) / 1000000 AS keep_rate
       FROM toks k JOIN rates r ON r.source = k.source
       WHERE CAST('0x' || substring(md5('mix-v1' || CAST(k.doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % 10000
             < CAST(ROUND(r.keep_rate * 10000, 0) AS BIGINT)""",
    "Token-budget mixture sampling — the pre-training mix step (30% "
    "web / 40% code by TOKENS, not documents): per-domain keep rate = "
    "min(1, target_frac x total_tokens / domain_tokens), applied as a "
    "stateless md5-bucket Bernoulli so the sample is reproducible and "
    "stable under reruns. One pass over the corpus + a |domains|-row "
    "exchange; the corpus itself is never shuffled.",
)
def q125(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    targets = spark.createDataFrame(
        list(TOKEN_MIX_TARGETS.items()), "source string, target_frac double"
    )
    out = training.token_budget_mix(docs, targets)
    return out.select(
        "doc_id", "source", "n_tok", oround(F.col("keep_rate"), 6).alias("keep_rate")
    )


@query(
    "q126_semantic_dedup",
    None,
    "SemDeDup-style semantic deduplication (rows-only: hyperplane "
    "buckets use xxhash64 weights with no DuckDB twin): multi-table "
    "hyperplane LSH buckets -> within-bucket exact cosine >= 0.95 "
    "edges -> connected components -> min-id keeper per semantic "
    "cluster. Pair coverage vs the exact blocked near-dup (q43) is "
    "gated in tests.",
)
def q126(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    # corpus_n from the parquet footer (driver-side metadata, no scan
    # job) — semantic_dedup would otherwise run a full count() first
    return similarity.semantic_dedup(
        emb, threshold=0.95, corpus_n=table_rows(sf_dir, "embeddings")
    )


REPEAT_K = 8        # shingle width for repeated-span detection (q127)
REPEAT_MIN_DOCS = 2


@query(
    "q127_repeated_ngrams",
    f"""WITH t AS (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x != '') AS toks
                   FROM documents),
         g AS (SELECT doc_id, i - 1 AS pos,
                 md5(array_to_string(list_slice(toks, i, i + {REPEAT_K - 1}), ' ')) AS gkey
               FROM t,
                    UNNEST(generate_series(1, greatest(len(toks) - {REPEAT_K - 1}, 1))) AS u(i)),
         rep AS (SELECT gkey
                 FROM (SELECT DISTINCT gkey, doc_id FROM g)
                 GROUP BY gkey HAVING COUNT(*) >= {REPEAT_MIN_DOCS}),
         tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id),
         repc AS (SELECT doc_id, COUNT(*) AS n_repeated
                  FROM g WHERE gkey IN (SELECT gkey FROM rep)
                  GROUP BY doc_id)
       SELECT t.doc_id, t.n_grams,
              COALESCE(r.n_repeated, 0) AS n_repeated,
              ROUND(COALESCE(r.n_repeated, 0) * 1000000.0 / t.n_grams) / 1000000.0
                AS repeated_frac
       FROM tot t LEFT JOIN repc r USING (doc_id)""",
    "Repeated-n-gram coverage, the exact-substring-dedup seed "
    "statistic (Lee et al. 2021): per document, the fraction of its "
    f"{REPEAT_K}-token shingle positions covered by a shingle seen in "
    f">= {REPEAT_MIN_DOCS} distinct documents. Shuffles keyed on the "
    "32-hex md5 digest, never the gram text; repeated set via "
    "two-level distinct-doc agg; left-semi position join.",
)
def q127(spark, sf_dir):
    return textops.repeated_ngrams(
        _t(spark, sf_dir, "documents"), k=REPEAT_K, min_docs=REPEAT_MIN_DOCS
    )


@query(
    "q128_quality_select",
    """WITH s AS (SELECT doc_id, source,
                    len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
                    ROUND((
                      len(list_distinct(list_filter(string_split(text, ' '), x -> x != '')))
                        * 1.0 / len(list_filter(string_split(text, ' '), x -> x != ''))
                      + LEAST(
                          len(list_filter(string_split(text, ' '),
                              x -> list_contains(['the','a','an','of','to','and'], x)))
                            * 1.0 / len(list_filter(string_split(text, ' '), x -> x != '')),
                          0.2)
                    ) * 1000000.0) / 1000000.0 AS q_score
                  FROM documents),
         thr AS (SELECT quantile_cont(q_score, 0.4) AS q_threshold FROM s)
       SELECT s.doc_id, s.source, s.n_tokens, s.q_score, thr.q_threshold
       FROM s CROSS JOIN thr
       WHERE s.q_score >= thr.q_threshold""",
    "Global quality-percentile corpus selection — keep the best 60% "
    "by quality score (distinct-token ratio + capped stopword ratio): "
    "the threshold is ONE scalar aggregate broadcast back via a 1-row "
    "cross join; the corpus is scanned, never shuffled. Exact "
    "percentile for oracle parity; approx_percentile (t-digest, "
    "mergeable) is the 100 TB path behind the exact=False flag.",
)
def q128(spark, sf_dir):
    return training.quality_select(
        _t(spark, sf_dir, "documents"), keep_frac=0.6, exact=True
    )


@query(
    "q129_minhash64_candidates",
    f"""WITH{_minhash_ctes(n_hashes=64, bands=8)}
       SELECT id_a, id_b FROM edges""",
    "Q37 at PRODUCTION width: 64 MinHash permutations (1 md5 + 4 "
    "salted sha2-256 digests, Kirsch-Mitzenmacher double hashing "
    "per 60-bit split), 8 bands x 8 rows — LSH threshold "
    "t=(1/8)^(1/8)~0.77, chosen so the corpus's ~0.14 random-pair "
    "Jaccard noise floor contributes ~zero collisions (the r5 "
    "scale-proof measured candidates growing ~n^2 at 4-row depth; at "
    "8 rows growth is ~linear in true near-dups). Same single-shuffle "
    "explode->groupBy signature plan and banded bucket equi-join as "
    "q37/q41; the generated DuckDB CTEs keep the oracle in lockstep "
    "at any width.",
)
def q129(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, k=3, n_hashes=64)
    return dedup.minhash_lsh_candidates(sigs, n_hashes=64, bands=8)


@query(
    "q130_contamination_rate",
    """WITH t AS (SELECT doc_id, source,
                    list_filter(string_split(text, ' '), x -> x != '') AS toks
                  FROM documents),
         sh AS (SELECT DISTINCT doc_id, source,
                       array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
                FROM t, UNNEST(generate_series(1, greatest(len(toks) - 2, 1))) AS u(i)),
         bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
         tr AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0')
       SELECT tr.doc_id,
              CAST(COUNT(*) AS BIGINT) AS n_shingles,
              CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_contaminated,
              ROUND(CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                         AS DOUBLE) / COUNT(*) * 1000000) / 1000000
                AS contamination_rate
       FROM tr LEFT JOIN bench b USING (shingle)
       GROUP BY tr.doc_id""",
    "Graded benchmark-contamination rate per train doc (vs q106's "
    "binary flag): fraction of the doc's distinct 3-token shingles "
    "that appear in the benchmark set — the number a curator "
    "thresholds on. Benchmark shingles broadcast; the train side "
    "aggregates on its own id and never shuffles on the shingle key.",
)
def q130(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    out = training.contamination_rate(train, bench, k=3)
    return out.select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        oround("contamination_rate", 6).alias("contamination_rate"),
    )


@query(
    "q131_compression_ratio",
    None,
    "Q131 (rows-only): compressibility quality signal (Gopher/"
    "MassiveText heuristic) — zlib DEFLATE size over raw utf-8 size "
    "per doc via an Arrow-batched pandas UDF (byte-level codec = the "
    "sanctioned vectorized-Python case; DuckDB has no zlib, so no "
    "SQL oracle). Deterministic at a fixed level; narrow map, no "
    "shuffle; pytest pins known repetitive-vs-prose orderings.",
)
def q131(spark, sf_dir):
    return training.compression_ratio(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        "n_bytes",
        "n_compressed",
        oround("compression_ratio", 6).alias("compression_ratio"),
    )


@query(
    "q132_repeated_spans",
    """WITH t AS (SELECT doc_id,
                    list_filter(string_split(text, ' '), x -> x != '') AS toks
                  FROM documents),
         sh AS (SELECT doc_id, i - 1 AS pos,
                       array_to_string(list_slice(toks, i, i + 7), ' ') AS gram,
                       greatest(len(toks), 1) AS n_toks
                FROM t, UNNEST(generate_series(1, greatest(len(toks) - 7, 1))) AS u(i)),
         rep AS (SELECT gkey
                 FROM (SELECT DISTINCT md5(gram) AS gkey, doc_id FROM sh)
                 GROUP BY gkey HAVING COUNT(*) >= 2),
         hits AS (SELECT doc_id, CAST(pos AS BIGINT) AS s,
                         CAST(least(pos + 8, n_toks) AS BIGINT) AS e
                  FROM sh WHERE md5(gram) IN (SELECT gkey FROM rep)),
         m AS (SELECT doc_id, s, e,
                      CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                                             ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING) IS NULL
                             OR s > MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND 1 PRECEDING)
                           THEN 1 ELSE 0 END AS brk
               FROM hits),
         g2 AS (SELECT doc_id, s, e,
                       SUM(brk) OVER (PARTITION BY doc_id ORDER BY s
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS gid
                FROM m)
       SELECT doc_id,
              CAST(MIN(s) AS BIGINT) AS span_start,
              CAST(MAX(e) AS BIGINT) AS span_end,
              CAST(MAX(e) - MIN(s) AS BIGINT) AS span_tokens
       FROM g2 GROUP BY doc_id, gid""",
    "Exact-substring dedup spans (Lee et al. 2021 removal stage, the "
    "step past q127's coverage statistic): positions whose 8-token "
    "shingle appears in >=2 distinct docs, merged into maximal "
    "half-open token intervals per doc via a running-max window over "
    "HIT positions only. Digest-keyed repeated-set discovery (the "
    "shuffle never carries gram text); the companion "
    "strip_repeated_spans rebuilds cleaned text with a pure-expression "
    "nested-exists filter, no UDF.",
)
def q132(spark, sf_dir):
    return textops.repeated_spans(_t(spark, sf_dir, "documents"), k=8, min_docs=2)


@query(
    "q135_mvt_tiles",
    None,
    "Q135 (rows-only): K3/K4 in-engine tile toolchain — per-tile "
    "Mapbox Vector Tile blobs encoded with the dependency-free "
    "protobuf writer (functions/mvt.py) over applyInPandas, replacing "
    "the reference's tippecanoe/mb-util subprocess chain. Binary "
    "output → no SQL oracle; the wire format is verified by "
    "round-trip decode in pytest and the (z,x,y) tile set matches "
    "q76's oracle-checked assignment by construction.",
)
def q135(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    pts = (
        ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .withColumn(
            "lat", (F.pmod("user_id", F.lit(170)) - 85).cast("double") + 0.25
        )
        .withColumn(
            "lon", (F.pmod("event_id", F.lit(360)) - 180).cast("double") + 0.3125
        )
    )
    tiled = climate.tile_assign(pts, 4)
    blobs = sinks.encode_mvt_tiles(tiled, layer_name="events")
    return blobs.select("z", "x", "y", F.length("tile").alias("n_bytes"))


@query(
    "q134_strip_spans",
    None,
    "Q134 (rows-only): exact-substring dedup applied — q132's merged "
    "spans stripped from each document via the pure-expression "
    "nested-exists token filter (corpus scanned once, never "
    "re-shuffled). Text reconstruction is not practically "
    "SQL-expressible in the oracle; the span table itself is the "
    "oracle-checked surface (q132), and pytest pins known cleaned "
    "outputs.",
)
def q134(spark, sf_dir):
    out = textops.strip_repeated_spans(
        _t(spark, sf_dir, "documents"), k=8, min_docs=2
    )
    return out.select("doc_id", F.length("text_dedup").alias("n_chars_dedup"))


@query(
    "q133_dsir_weights",
    """WITH tok AS (SELECT doc_id, source,
                      unnest(list_filter(string_split(text, ' '), x -> x != '')) AS tok
                    FROM documents),
         bk AS (SELECT doc_id, source,
                       CAST('0x' || substring(md5('dsir-v1' || tok), 1, 15) AS BIGINT)
                         % 1024 AS b
                FROM tok),
         tc AS (SELECT b, COUNT(*) AS ct FROM bk WHERE source = 'src0' GROUP BY b),
         rc AS (SELECT b, COUNT(*) AS cr FROM bk WHERE source <> 'src0' GROUP BY b),
         tt AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS t FROM tc),
         rt AS (SELECT CAST(COALESCE(SUM(cr), 0) AS BIGINT) AS t FROM rc),
         w AS (SELECT rc.b,
                      ln((COALESCE(tc.ct, 0) + 1.0) / (tt.t + 1024.0))
                        - ln((rc.cr + 1.0) / (rt.t + 1024.0)) AS w
               FROM rc LEFT JOIN tc USING (b), tt, rt)
       SELECT bk.doc_id,
              CAST(COUNT(*) AS BIGINT) AS n_tokens,
              ROUND(SUM(w.w) * 10000) / 10000 AS dsir_logratio
       FROM bk JOIN w USING (b)
       WHERE bk.source <> 'src0'
       GROUP BY bk.doc_id""",
    "DSIR-style importance weights (Xie et al. 2023, hashed-unigram "
    "simplification): per-doc sum of log p_target/p_raw over md5 "
    "feature buckets, add-one smoothed — the data-SELECTION score "
    "(docs resembling the target domain, source=src0 standing in, "
    "score high). Two bucket aggs + a KB-sized broadcast weight dim; "
    "the raw corpus shuffles only on its own doc id.",
)
def q133(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("source") == "src0")
    raw = docs.filter(F.col("source") != "src0")
    out = training.dsir_logratio(raw, target, n_buckets=1024)
    return out.select(
        "doc_id", "n_tokens", oround("dsir_logratio", 4).alias("dsir_logratio")
    )


@query(
    "q136_edit_distance_verify",
    f"""WITH{_minhash_ctes()},
         scored AS (
           SELECT e.id_a, e.id_b,
                  len(a.text) AS len_a, len(b.text) AS len_b,
                  levenshtein(a.text, b.text) AS edit_distance
           FROM edges e
           JOIN documents a ON a.doc_id = e.id_a
           JOIN documents b ON b.doc_id = e.id_b)
       SELECT id_a, id_b, len_a, len_b, edit_distance,
              ROUND((1.0 - edit_distance /
                     CAST(greatest(greatest(len_a, len_b), 1) AS DOUBLE))
                    * 1000000) / 1000000 AS edit_similarity
       FROM scored
       WHERE 1.0 - edit_distance
             / CAST(greatest(greatest(len_a, len_b), 1) AS DOUBLE) >= 0.4""",
    "Character-level near-dup verification: Levenshtein edit "
    "similarity on the LSH candidate pairs — the sibling of q122's "
    "token-Jaccard verify for dup classes shingles miss (typos, "
    "whitespace drift, OCR noise). Built-in JVM levenshtein, never "
    "all-pairs (candidates only), and a length-gap prefilter skips "
    "the O(|a|·|b|) DP for pairs that cannot reach the threshold "
    "(dist >= |len_a-len_b| always). Oracle replays the identical "
    "candidate set and DuckDB's levenshtein.",
)
def q136(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, k=3, n_hashes=MINHASH_N)
    cand = dedup.minhash_lsh_candidates(sigs, n_hashes=MINHASH_N, bands=MINHASH_BANDS)
    # materialize candidates once (the q122/q176 pattern): the verify
    # references the pair frame three times — length prefilter joins +
    # the endpoint set — and an un-checkpointed reference replays the
    # whole signature+bucket join per reference (the two-round ×12.6
    # "curve debt" was mostly THIS; at scale: persist the pair table)
    cand = cand.localCheckpoint(eager=True)
    out = dedup.levenshtein_on_pairs(docs, cand, min_similarity=0.4)
    return out.select(
        "id_a", "id_b", "len_a", "len_b", "edit_distance",
        oround("edit_similarity", 6).alias("edit_similarity"),
    )


@query(
    "q137_sessionize",
    """WITH o AS (
         SELECT user_id, ts, event_id, value,
                CASE WHEN LAG(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                             >= 1800 * 1000000 THEN 1 ELSE 0 END AS new_s
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       s AS (
         SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS session_seq
         FROM o)
       SELECT user_id, session_seq,
              MIN(ts) AS session_start, MAX(ts) AS session_end,
              (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0 AS duration_s,
              COUNT(*) AS n_events,
              ROUND(SUM(CASE WHEN isnan(value) THEN NULL ELSE value END)
                    * 10000) / 10000 AS total_value
       FROM s GROUP BY user_id, session_seq""",
    "Batch sessionization (gaps-and-islands, 30-min gap): the "
    "historical-log twin of the streaming session window (q51). ONE "
    "shuffle on user_id — the lag window, the running-sum island id "
    "and the per-session agg all reuse the same HashPartitioning "
    "(grouping on a superset of the window key needs no second "
    "exchange). Ties broken by event_id so assignment is stable "
    "under shuffle order.",
)
def q137(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = sessions.sessionize(ev, gap_seconds=1800)
    return out.select(
        "user_id", "session_seq", "session_start", "session_end",
        "duration_s", "n_events", oround("total_value", 4).alias("total_value"),
    )


@query(
    "q138_stratified_sample",
    """SELECT doc_id, text, lang, source, n_chars FROM documents
       WHERE CAST(CAST('0x' || substring(md5('strat-v1' || CAST(doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) % 10000 AS BIGINT) <
             CASE lang WHEN 'de' THEN 2500 WHEN 'en' THEN 5000 ELSE 1000 END""",
    "Deterministic stratified sampling — downsample over-represented "
    "corpus slices to a target mix (en 50%, de 25%, rest 10%). "
    "Content-hash keep decision (md5 bucket < per-stratum threshold): "
    "reproducible across engines/retries/corpus growth, unlike "
    "sampleBy's partition-order RNG. Stateless per-row predicate — "
    "no shuffle, no sampling state, prunes at the scan.",
)
def q138(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return training.stratified_sample(
        docs, {"en": 0.5, "de": 0.25}, strata_col="lang", default_fraction=0.1
    ).select("doc_id", "text", "lang", "source", "n_chars")


@query(
    "q139_bloom_decontaminate",
    """WITH t AS (SELECT doc_id, source,
                    list_filter(string_split(text, ' '), x -> x != '') AS toks
                  FROM documents),
         sh AS (SELECT DISTINCT doc_id, source,
                       array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
                FROM t, UNNEST(generate_series(1, greatest(len(toks) - 2, 1))) AS u(i)),
         bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
         bad AS (SELECT DISTINCT s.doc_id
                 FROM sh s JOIN bench b USING (shingle)
                 WHERE s.source <> 'src0')
       SELECT d.doc_id, d.lang, d.source, d.n_chars
       FROM documents d
       WHERE d.source <> 'src0'
         AND d.doc_id NOT IN (SELECT doc_id FROM bad)""",
    "q106's scale path: expression-level BLOOM prefilter (3 xxhash64 "
    "bit-positions per shingle, distinct-position dims bounded by "
    "n_bits ints regardless of benchmark size, 3 broadcast semi-joins "
    "= O(1) probes/row) ahead of the exact shingle join. No false "
    "negatives, so the output is EXACT-equal to plain decontamination "
    "— the oracle is the exact SQL; the bloom stage only shrinks the "
    "exploded shingle stream reaching the join at 100 TB.",
)
def q139(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    out = training.bloom_decontaminate(
        train, bench, k=3, expected_items=20_000, fpp=0.01
    )
    return out.select("doc_id", "lang", "source", "n_chars")


@query(
    "q140_pq_ann_topk",
    None,
    "ANN third path (rows-only): product quantization + ADC scan + "
    "exact re-rank. Each unit vector compresses to m=16 one-byte "
    "sub-codes (16x vs float32 at dim 64) — at 100 TB the ADC scan "
    "reads the code table, not the embedding column, and is pure "
    "expression work (transform/aggregate over a broadcast per-query "
    "LUT); Python only in the one-off Arrow encode pass. Approximate "
    "by construction; invariant gate: recall@10 vs exact q38 "
    "(tools/check_oracle.py prints the verdict).",
)
def q140(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pq_topk(emb, _query_vectors(spark, sf_dir), k=10)


@query(
    "q141_incremental_dedup",
    f"""WITH{_minhash_ctes()},
         isnew AS (SELECT doc_id,
                     NOT regexp_matches(source, '^src[0-9]$') AS is_new
                   FROM documents),
         xe AS (SELECT e.id_a, e.id_b,
                  CASE WHEN na.is_new THEN e.id_a ELSE e.id_b END AS new_id
                FROM edges e
                JOIN isnew na ON na.doc_id = e.id_a
                JOIN isnew nb ON nb.doc_id = e.id_b
                WHERE na.is_new <> nb.is_new),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         common AS (SELECT x.id_a, x.id_b, x.new_id, COUNT(*) AS n_common
                    FROM xe x
                    JOIN sh a ON a.doc_id = x.id_a
                    JOIN sh b ON b.doc_id = x.id_b AND b.shingle = a.shingle
                    GROUP BY 1, 2, 3),
         bad AS (SELECT DISTINCT c.new_id
                 FROM common c
                 JOIN sizes sa ON sa.doc_id = c.id_a
                 JOIN sizes sb ON sb.doc_id = c.id_b
                 WHERE CAST(n_common AS DOUBLE)
                       / (sa.n_sh + sb.n_sh - n_common) >= 0.5)
       SELECT d.doc_id, d.lang, d.source, d.n_chars
       FROM documents d JOIN isnew i ON i.doc_id = d.doc_id
       WHERE i.is_new AND d.doc_id NOT IN (SELECT new_id FROM bad)""",
    "Incremental dedup: a NEW corpus slice (src10+) deduped against "
    "an existing BASE training set (src0-9) — cross-corpus LSH "
    "candidates (both sides share the hash family, so the cross "
    "bucket join is exactly the cross subset of the full candidate "
    "set; at 100 TB the base buckets are computed once and persisted, "
    "never re-paired with themselves), exact Jaccard >= 0.5 verify on "
    "candidate pairs only, anti-join the flagged new ids. Oracle "
    "replays candidates bit-for-bit and applies the same gate.",
)
def q141(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    is_base = F.col("source").rlike("^src[0-9]$")
    base = docs.filter(is_base)
    new = docs.filter(~is_base)
    # ONE signature pass over the whole corpus, split afterwards:
    # per-doc signatures are frame-independent, so filtering the
    # shared sig table is bit-identical to signing each split. The
    # exchange under the signature agg is an identical subtree for
    # both branches, but PushDownLeftSemiAntiJoin rewrites each
    # branch's agg subtree (the semi-join sinks below the aggregate),
    # so the planned ReusedExchange never materialized — the r13
    # stage profile showed TWIN ~4.1 CPU-s digest stages. A lazy
    # localCheckpoint pins the sig table as one computed artifact
    # both branches read (at 100 TB this IS the persisted signature
    # index the incremental recipe stores anyway: n_docs x 8 longs,
    # << corpus).
    sigs = dedup.minhash_signatures(docs, k=3, n_hashes=MINHASH_N).localCheckpoint(
        eager=False
    )
    flag = docs.select("doc_id", is_base.alias("_is_base"))
    sb = sigs.join(F.broadcast(flag.filter("_is_base")), "doc_id", "left_semi")
    sn = sigs.join(F.broadcast(flag.filter("NOT _is_base")), "doc_id", "left_semi")
    cand = dedup.minhash_lsh_candidates_cross(
        sn, sb, n_hashes=MINHASH_N, bands=MINHASH_BANDS
    ).localCheckpoint(eager=True)  # referenced twice by the verify stage
    ver = dedup.jaccard_on_pairs(docs, cand, k=3).filter(F.col("jaccard") >= 0.5)
    bad = ver.select(F.col("id_a").alias("doc_id")).distinct()
    return new.join(F.broadcast(bad), "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


@query(
    "q142_domain_cap",
    """SELECT doc_id, lang, source, n_chars FROM (
         SELECT doc_id, lang, source, n_chars,
                ROW_NUMBER() OVER (
                  PARTITION BY source
                  ORDER BY md5('cap-v1' || CAST(doc_id AS VARCHAR)), doc_id
                ) AS rn
         FROM documents) t
       WHERE rn <= 10""",
    "Per-domain document cap (C4-style guard against one crawl domain "
    "dominating the mix): keep <= 10 docs per source, chosen by "
    "deterministic md5 hash order — a uniform per-domain sample, "
    "reproducible across engines/runs and shrink-stable (a lower cap "
    "keeps a subset of a higher cap's picks). One group shuffle; "
    "window ranks (group, hash) only.",
)
def q142(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return training.domain_cap(docs, cap=10, group_col="source").select(
        "doc_id", "lang", "source", "n_chars"
    )


@query(
    "q143_quality_calibrate",
    """WITH t AS (SELECT doc_id,
                    list_filter(string_split(text, ' '), x -> x != '') AS toks
                  FROM documents),
         r AS (SELECT doc_id,
                 ROUND(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)
                       * 1000000) / 1000000 AS distinct_ratio
               FROM t)
       SELECT d.doc_id, d.lang, r.distinct_ratio,
              ROUND(PERCENT_RANK() OVER (PARTITION BY d.lang
                                         ORDER BY r.distinct_ratio)
                    * 1000000) / 1000000 AS quality_pctile
       FROM documents d JOIN r ON r.doc_id = d.doc_id""",
    "Quality-score calibration: within-language percent_rank of the "
    "distinct-token ratio — curation thresholds on the percentile, "
    "not the raw score, so one cutoff doesn't penalize whole "
    "languages. percent_rank is tie-stable (equal scores, equal "
    "percentiles) and ranks the ROUNDED score, pinning tie groups "
    "across engines. One shuffle on lang.",
)
def q143(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = textops.quality_percentile(docs, by="lang")
    return out.select(
        "doc_id", "lang", "distinct_ratio",
        oround("quality_pctile", 6).alias("quality_pctile"),
    )


@query(
    "q144_audio_features",
    None,
    "Multimodal audio path (rows-only): REAL RIFF/WAVE PCM decode — "
    "documents rendered as 8-bit PCM WAV payloads (deterministic "
    "fixture, known samples), then sample_rate / channels / duration "
    "/ normalized RMS extracted per doc via the stdlib decoder over "
    "mapInPandas. Compressed audio (mp3/ogg) is per-row quarantined "
    "to null features, not a task failure. Invariant gate: zero "
    "nulls on the WAV fixture and duration == n_samples/rate "
    "(tools/check_oracle.py prints the verdict).",
)
def q144(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return multimodal.extract_audio_features(multimodal.text_as_wav_payload(docs))


# ---------------------------------------------------------------------------
# round 5b: event-log analytics (funnel / retention / gap-fill / paths /
# outliers) + lexical retrieval (BM25, inverted index). The reference's
# only time axis is the monthly climate rollup
# (precipitation_pipeline.py:131-139); these generalize it to the
# user-activity analytics + corpus-probe surface of a warehouse engine.
# ---------------------------------------------------------------------------


@query(
    "q145_funnel",
    """WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
                  WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, MIN(e.ts) AS t_click
               FROM events e JOIN v USING (user_id)
               WHERE e.event_type = 'click' AND e.ts > v.t_view
               GROUP BY e.user_id),
         p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
               FROM events e JOIN c USING (user_id)
               WHERE e.event_type = 'purchase' AND e.ts > c.t_click
               GROUP BY e.user_id)
       SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
       FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""",
    "Strictly-ordered funnel (view → click → purchase): per user the "
    "earliest qualified timestamp of each stage, stage k strictly "
    "after the user's earliest qualified stage k-1. The oracle is the "
    "textbook join-chain (one shuffle per stage); the Spark side does "
    "it in ONE shuffle on user_id — per-stage qualification flags are "
    "min-windows over the same partitioning, and the final per-user "
    "agg reuses it. Strict '>' on integer-µs epochs both sides.",
)
def q145(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return analytics.funnel(ev, ["view", "click", "purchase"])


@query(
    "q146_retention",
    """WITH a AS (SELECT DISTINCT user_id,
                         CAST(date_trunc('week', ts) AS TIMESTAMP) AS period
                  FROM events),
         f AS (SELECT user_id, MIN(period) AS cohort_period
               FROM a GROUP BY user_id)
       SELECT f.cohort_period,
              CAST((epoch_us(a.period) - epoch_us(f.cohort_period))
                   / 604800000000 AS BIGINT) AS period_offset,
              COUNT(DISTINCT a.user_id) AS n_users
       FROM a JOIN f USING (user_id)
       GROUP BY f.cohort_period, period_offset""",
    "Cohort retention: users cohorted by first-activity week; distinct "
    "actives per (cohort, week-offset). Per-user first-week agg and "
    "per-(user,week) activity dedup share one Exchange on user_id; the "
    "final rollup reshuffles user-weeks, not raw events. Week "
    "truncation is ISO-Monday in both engines; offsets are exact "
    "integer-µs quotients (no DST in NTZ).",
)
def q146(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return analytics.cohort_retention(ev, period="week")


@query(
    "q147_gap_fill",
    """WITH daily AS (
         SELECT event_type AS key, date_trunc('day', ts) AS day,
                AVG(CASE WHEN isnan(value) THEN NULL ELSE value END) AS day_avg
         FROM events GROUP BY 1, 2),
       bounds AS (SELECT key, MIN(day) AS d0, MAX(day) AS d1
                  FROM daily GROUP BY key),
       spine AS (SELECT b.key, g.day
                 FROM bounds b,
                      LATERAL (SELECT unnest(generate_series(b.d0, b.d1,
                                             INTERVAL 1 DAY)) AS day) g),
       j AS (SELECT s.key, s.day, d.day_avg
             FROM spine s LEFT JOIN daily d USING (key, day))
       SELECT key, day,
              ROUND(day_avg * 10000) / 10000 AS day_avg,
              ROUND(last_value(day_avg IGNORE NULLS)
                    OVER (PARTITION BY key ORDER BY day
                          ROWS UNBOUNDED PRECEDING) * 10000) / 10000
                AS filled,
              day_avg IS NULL AS is_gap
       FROM j""",
    "Time-series resample + gap-fill: per event_type a COMPLETE daily "
    "spine (min..max day) of avg(value), holes filled "
    "last-observation-carried-forward. The spine explodes "
    "sequence(d0, d1) from a tiny per-key aggregate on executors — "
    "never a driver loop (the reference builds its month list driver-"
    "side, utils/pipeline_manager.py). Daily agg, spine join and LOCF "
    "window all hash-partition on the key: one Exchange for the big "
    "side. NaN→NULL at ingest (SURVEY §1.2).",
)
def q147(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = analytics.gap_fill_locf(ev)
    return out.select(
        "key", "day",
        oround("day_avg", 4).alias("day_avg"),
        oround("filled", 4).alias("filled"),
        "is_gap",
    )


@query(
    "q148_event_paths",
    """WITH s AS (
         SELECT user_id, event_type,
                LEAD(event_type, 1) OVER w AS n1,
                LEAD(event_type, 2) OVER w AS n2
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       SELECT event_type || '>' || n1 || '>' || n2 AS path,
              COUNT(*) AS n_occurrences
       FROM s WHERE n2 IS NOT NULL
       GROUP BY path""",
    "Path mining: frequency of every length-3 consecutive event-type "
    "sequence in a user's timeline (lead windows, ties broken by "
    "event_id so assignment is shuffle-stable). One shuffle on "
    "user_id; the path count groups strings bounded by "
    "|event_type|^3 keys after map-side combine, not event volume.",
)
def q148(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return analytics.event_paths(ev, n=3)


@query(
    "q149_value_outliers",
    """WITH c AS (SELECT event_id, event_type, value FROM events
                  WHERE value IS NOT NULL AND NOT isnan(value)),
         s AS (SELECT event_type, AVG(value) AS m, stddev_pop(value) AS sd
               FROM c GROUP BY event_type)
       SELECT c.event_id, c.event_type, c.value,
              ROUND((c.value - s.m) / s.sd * 10000) / 10000 AS zscore
       FROM c JOIN s USING (event_type)
       WHERE s.sd > 0 AND abs((c.value - s.m) / s.sd) > 3.0""",
    "Per-key z-score outlier detection (|z| > 3 population sigmas). "
    "Two-phase: the per-key moment aggregate collapses the corpus to "
    "|event_type| rows which BROADCAST back against the raw scan — "
    "the big side is read once and never shuffled (plan-audited: no "
    "Exchange on the events side). The filter threshold compares raw "
    "doubles on both sides; only the reported zscore is rounded.",
)
def q149(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = analytics.value_outliers(ev, z_threshold=3.0)
    return out.select(
        "event_id", "event_type", "value", oround("zscore", 4).alias("zscore")
    )


# Query-term set for BM25: mid-frequency fixture vocabulary (FIXTURES.md
# word soup) — chosen so scores spread and the top-k is stable.
_BM25_TERMS = ["spark", "vector", "shuffle", "query"]


@query(
    "q150_bm25_topk",
    f"""WITH t AS (SELECT doc_id,
                    list_filter(string_split(text, ' '), x -> x != '') AS toks
                  FROM documents),
         base AS (SELECT doc_id, len(toks) AS dl, u.tok AS term
                  FROM t, UNNEST(toks) AS u(tok)
                  WHERE u.tok IN ({", ".join("'" + t + "'" for t in _BM25_TERMS)})),
         tf AS (SELECT doc_id, term, dl, COUNT(*) AS tf
                FROM base GROUP BY doc_id, term, dl),
         stats AS (SELECT COUNT(*) AS n_docs, AVG(len(toks)) AS avgdl FROM t),
         dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df
                   FROM tf GROUP BY term)
       SELECT tf.doc_id,
              ROUND(SUM(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                        * tf.tf * 2.2
                        / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl)))
                    * 10000) / 10000 AS bm25
       FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
       GROUP BY tf.doc_id
       ORDER BY bm25 DESC, tf.doc_id ASC LIMIT 20""",
    "BM25 retrieval (k1=1.2, b=0.75): top-20 documents for a query "
    "term bag — the lexical-search probe a curation pipeline runs for "
    "quality audits. The corpus explode is restricted to query-term "
    "hits BEFORE exploding (filter inside the token array), so the "
    "exploded stream is |hits| not |tokens|; N/avgdl and per-term df "
    "are tiny broadcast aggregates; top-k is TakeOrderedAndProject "
    "(per-partition k, no global sort). Ties broken by doc_id.",
)
def q150(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = textops.bm25_topk(docs, _BM25_TERMS, k=20)
    return out.select("doc_id", oround("bm25", 4).alias("bm25"))


@query(
    "q151_inverted_index",
    """WITH t AS (SELECT doc_id,
                    list_filter(string_split(text, ' '), x -> x != '') AS toks
                  FROM documents),
         tok AS (SELECT doc_id, u.tok AS token FROM t, UNNEST(toks) AS u(tok)),
         per_doc AS (SELECT token, doc_id, COUNT(*) AS tf
                     FROM tok GROUP BY token, doc_id)
       SELECT token, COUNT(*) AS doc_freq, CAST(SUM(tf) AS BIGINT) AS term_freq,
              array_to_string(list_slice(list_sort(list(doc_id)), 1, 50),
                              ',') AS postings
       FROM per_doc GROUP BY token HAVING COUNT(*) >= 2""",
    "Inverted-index build: token → (document frequency, total term "
    "frequency, first 50 doc ids ascending) — the search sidecar a "
    "curation pipeline materializes next to the corpus. One explode, "
    "one token-keyed hash agg (map-side combined); the postings array "
    "is slice-capped so row width is bounded regardless of token "
    "skew. At 100 TB the uncapped postings would be a partitioned "
    "sink keyed by (token, shard) instead of a column. The registry "
    "row serializes postings to a comma-joined string (the driver's "
    "canonicalizer cannot sort array columns — r5 driver ERROR); the "
    "operator itself keeps the typed array for API users.",
)
def q151(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = textops.inverted_index(docs, min_doc_freq=2, postings_cap=50)
    return out.select(
        "token",
        "doc_freq",
        "term_freq",
        F.array_join("postings", ",").alias("postings"),
    )


@query(
    "q152_gap_interpolate",
    """WITH daily AS (
         SELECT event_type AS key, date_trunc('day', ts) AS day,
                AVG(CASE WHEN isnan(value) THEN NULL ELSE value END) AS day_avg
         FROM events GROUP BY 1, 2),
       bounds AS (SELECT key, MIN(day) AS d0, MAX(day) AS d1
                  FROM daily GROUP BY key),
       spine AS (SELECT b.key, g.day
                 FROM bounds b,
                      LATERAL (SELECT unnest(generate_series(b.d0, b.d1,
                                             INTERVAL 1 DAY)) AS day) g),
       j AS (SELECT s.key, s.day, d.day_avg,
                    epoch_us(s.day) / 86400000000.0 AS dn,
                    CASE WHEN d.day_avg IS NOT NULL
                         THEN epoch_us(s.day) / 86400000000.0 END AS odn
             FROM spine s LEFT JOIN daily d USING (key, day)),
       w AS (SELECT key, day, day_avg, dn,
                    last_value(day_avg IGNORE NULLS)
                      OVER (PARTITION BY key ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS pv,
                    last_value(odn IGNORE NULLS)
                      OVER (PARTITION BY key ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS pd,
                    first_value(day_avg IGNORE NULLS)
                      OVER (PARTITION BY key ORDER BY day
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
                    first_value(odn IGNORE NULLS)
                      OVER (PARTITION BY key ORDER BY day
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
             FROM j)
       SELECT key, day,
              ROUND(day_avg * 10000) / 10000 AS day_avg,
              ROUND(CASE WHEN day_avg IS NOT NULL THEN day_avg
                         WHEN pv IS NULL THEN nv
                         WHEN nv IS NULL THEN pv
                         ELSE pv + (nv - pv) * (dn - pd) / (nd - pd)
                    END * 10000) / 10000 AS interpolated,
              day_avg IS NULL AS is_gap
       FROM w""",
    "q147's linear twin: holes interpolated between the nearest "
    "observed days on each side instead of carried forward — the "
    "climate-cube regridding fill (the reference's pandas dropna "
    "simply discards NaN holes, precipitation_pipeline.py:107). Four "
    "neighbor lookups are IGNORE NULLS windows over the ONE key "
    "partitioning; day arithmetic in exact integer-µs quotients.",
)
def q152(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = analytics.gap_fill_interpolate(ev)
    return out.select(
        "key", "day",
        oround("day_avg", 4).alias("day_avg"),
        oround("interpolated", 4).alias("interpolated"),
        "is_gap",
    )


@query(
    "q153_robust_outliers",
    """WITH c AS (SELECT event_id, event_type, value FROM events
                  WHERE value IS NOT NULL AND NOT isnan(value)),
         m AS (SELECT event_type, median(value) AS med FROM c GROUP BY 1),
         md AS (SELECT c.event_type,
                       median(abs(c.value - m.med)) AS mad,
                       any_value(m.med) AS med
                FROM c JOIN m USING (event_type) GROUP BY c.event_type)
       SELECT c.event_id, c.event_type, c.value,
              ROUND(0.6745 * (c.value - md.med) / md.mad * 10000) / 10000
                AS robust_z
       FROM c JOIN md USING (event_type)
       WHERE md.mad > 0
         AND abs(0.6745 * (c.value - md.med) / md.mad) > 3.5""",
    "Robust outlier detection (Iglewicz–Hoaglin modified z-score, "
    "median/MAD): resistant to the very extremes q149's mean/stddev "
    "version lets inflate sigma. Two tiny per-key aggregate passes "
    "(median, then median-of-deviations) broadcast back; the raw "
    "stream is scanned once, never shuffled. Exact percentile here; "
    "at 100 TB swap percentile_approx, same plan.",
)
def q153(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = analytics.robust_outliers(ev, z_threshold=3.5)
    return out.select(
        "event_id", "event_type", "value",
        oround("robust_z", 4).alias("robust_z"),
    )


@query(
    "q154_scd2_intervals",
    """SELECT user_id, event_type, value,
              ts AS valid_from,
              LEAD(ts) OVER w AS valid_to,
              LEAD(ts) OVER w IS NULL AS is_current,
              CAST(row_number() OVER w AS BIGINT) AS version
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
    "SCD type-2 history build: each key's change events become "
    "validity intervals [valid_from, valid_to) with an is_current "
    "flag on the open row — the dimension-history primitive the "
    "as-of join (q48/q91) probes. One shuffle on the key; lead and "
    "row_number share the partitioning; ties ordered by event_id so "
    "boundaries are shuffle-stable.",
)
def q154(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = analytics.scd2_intervals(ev)
    return out.select(
        "user_id", "event_type", "value", "valid_from", "valid_to",
        "is_current", F.col("version").cast("bigint").alias("version"),
    )


@query(
    "q155_jpeg_features",
    None,
    "Multimodal JPEG path (rows-only): REAL baseline JPEG decode — "
    "dependency-free Huffman + batched IDCT (functions/jpeg.py), "
    "restart intervals and 4:2:0 multi-component MCUs both exercised "
    "by the deterministic fixture (even doc_ids: grayscale+DRI, odd: "
    "YCbCr 4:2:0 with neutral chroma). Invariant gate: per-doc "
    "mean_luma within 3 gray levels of the LOSSLESS PNG twin (q54 "
    "renders the same pixels), dims exact "
    "(tools/check_oracle.py prints the verdict).",
)
def q155(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return multimodal.extract_image_features(
        multimodal.text_as_jpeg_payload(docs)
    )


@query(
    "q156_approx_percentiles",
    None,
    "q60's 100 TB path (rows-only): approx_percentile (Greenwald-"
    "Khanna sketch, accuracy 10000) for p25/p50/p75/p99 of "
    "o_totalprice per order status — mergeable partial sketches, one "
    "shuffle of sketch state instead of a sort. Invariant gate: every "
    "approximate value lies within the exact percentile band "
    "[q-0.01, q+0.01] (the sketch's rank-error contract, checked "
    "against oracle-green q60's exact percentile machinery).",
)
def q156(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    pct = F.expr(
        "approx_percentile(o_totalprice, array(0.25, 0.5, 0.75, 0.99), 10000)"
    )
    return o.groupBy("o_orderstatus").agg(
        pct[0].alias("p25"),
        pct[1].alias("p50"),
        pct[2].alias("p75"),
        pct[3].alias("p99"),
    )


@query(
    "q157_video_features",
    None,
    "Multimodal VIDEO path (rows-only): REAL Y4M (YUV4MPEG2) decode — "
    "dependency-free header parse + FRAME walk + numpy per-frame luma "
    "(operators/multimodal.py::decode_y4m). Deterministic fixture: "
    "documents rendered as 16x16 luma frames (even doc_ids Cmono, odd "
    "C420jpeg with neutral chroma — both plane layouts exercised); "
    "compressed containers (mp4/webm) are per-row quarantined to null "
    "features. Invariant gate: zero nulls on the Y4M fixture, "
    "duration == n_frames/fps, and per-doc mean_luma equals the exact "
    "numpy mean of the zero-padded utf-8 bytes "
    "(tools/check_oracle.py prints the verdict).",
)
def q157(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return multimodal.extract_video_features(
        multimodal.text_as_y4m_payload(docs)
    )


@query(
    "q158_frame_sample",
    None,
    "REAL video frame sampling (rows-only): decode the Y4M container "
    "index (FRAME markers) and emit every 2nd frame as its own row "
    "with the true byte offset and mean luma — the 100 TB shape for "
    "'sample k frames per clip for the vision encoder'. Arrow-batched "
    "mapInPandas; one output row per kept frame, offsets from the "
    "actual stream, not arithmetic on byte length. Invariant gate: "
    "sampled frame count per doc == ceil(n_frames/2) vs q157 and "
    "frame_idx stride exactly 2 (tools/check_oracle.py).",
)
def q158(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return multimodal.sample_video_frames(
        multimodal.text_as_y4m_payload(docs), every_n=2
    )


@query(
    "q159_weighted_sample",
    """WITH keyed AS (
         SELECT doc_id, lang, source, n_chars,
                ln((CAST('0x' || substring(md5('aes-v1' || CAST(doc_id AS VARCHAR)), 1, 15)
                      AS BIGINT) % 1000000 + 0.5) / 1000000.0)
                  / (CASE WHEN n_chars > 0 THEN CAST(n_chars AS DOUBLE)
                          ELSE 1.0 END) AS aes_key
         FROM documents),
         ranked AS (SELECT *, row_number() OVER (
                      PARTITION BY lang ORDER BY aes_key DESC, doc_id) AS rn
                    FROM keyed)
       SELECT doc_id, lang, source, n_chars FROM ranked WHERE rn <= 20""",
    "Weighted sampling WITHOUT replacement (Efraimidis-Spirakis "
    "A-ES): key = ln(u)/weight with u the deterministic md5 bucket "
    "of the id, top-20 keys per language = a per-stratum sample "
    "proportional to n_chars — 'sample long documents more' ahead of "
    "a training run, reproducible across engines and stable under "
    "reruns. One shuffle on the stratum key; WindowGroupLimit keeps "
    "a 20-row heap per group, the corpus is never globally sorted; "
    "the float key never leaves the plan.",
)
def q159(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return training.weighted_sample_topk(
        docs.select("doc_id", "lang", "source", "n_chars"),
        weight_col="n_chars",
        k=20,
        stratify_col="lang",
    )


@query(
    "q160_heavy_hitters",
    """WITH tok AS (SELECT doc_id,
                      unnest(list_filter(string_split(text, ' '), x -> x != ''))
                        AS token
                    FROM documents),
         sampled AS (SELECT token, COUNT(*) AS s_freq FROM tok
                     WHERE CAST('0x' || substring(md5('hh-v1' || CAST(doc_id AS VARCHAR)), 1, 15)
                             AS BIGINT) % 10000 < 1000
                     GROUP BY 1),
         candidates AS (SELECT token FROM sampled
                        ORDER BY s_freq DESC, token LIMIT 40),
         exact AS (SELECT t.token, COUNT(*) AS term_freq
                   FROM tok t JOIN candidates c USING (token)
                   GROUP BY 1)
       SELECT token, term_freq FROM exact
       ORDER BY term_freq DESC, token LIMIT 10""",
    "Frequent-items top-k via SAMPLE-THEN-VERIFY — q111's 100 TB "
    "path: a deterministic 10% md5 hash-sample of DOCUMENTS (gating "
    "on the doc id — gating on the token string would sample "
    "vocabulary types and erase heavy hitters) nominates 4k "
    "candidates from ~10% of the token stream, then ONLY candidate "
    "tokens pass a broadcast semi-join gate into the exact count "
    "(second shuffle carries k*4 keys). Exact counts for the "
    "winners, deterministic nomination, both top-Ns "
    "TakeOrderedAndProject.",
)
def q160(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return textops.heavy_hitters_topk(docs, k=10)


@query(
    "q161_pagerank",
    None,
    "PageRank over the VERIFIED near-dup graph (rows-only: iterative "
    "power iteration, not SQL-expressible) — centrality ranks the "
    "canonical copy inside each near-dup family and generalizes to "
    "link/interaction graphs. Per round ONE shuffle over the node "
    "key (ranks x edges -> groupBy(dst) sum), edges checkpointed "
    "once and reused, L1-delta convergence as an Observation scalar "
    "riding the round's localCheckpoint — no row data to the driver. "
    "Invariant gate: per-node rank within 1e-6 of an independent "
    "numpy power iteration on the same edges, ranks sum to 1 "
    "(tools/check_oracle.py prints the verdict).",
)
def q161(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, k=3, n_hashes=MINHASH_N)
    cand = dedup.minhash_lsh_candidates(
        sigs, n_hashes=MINHASH_N, bands=MINHASH_BANDS
    ).localCheckpoint(eager=True)
    ver = (
        dedup.jaccard_on_pairs(docs, cand, k=3)
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b")
    )
    return graph.pagerank(ver, node_col="doc_id")


@query(
    "q162_bpe_merges",
    None,
    "Distributed BPE tokenizer training (rows-only: iterative, not "
    "SQL-expressible): learn the first 10 byte-pair merges from the "
    "corpus. ONE corpus pass builds the (word, count) table — "
    "vocabulary-sized, orders of magnitude smaller than the corpus — "
    "and every merge round runs on it: weighted adjacent-pair "
    "explode, map-side-combined groupBy(pair), top-1 via "
    "TakeOrderedAndProject with a deterministic (count desc, pair "
    "asc) tie-break, then a pure-expression greedy fold applies the "
    "merge. Per-round driver traffic is the single winning pair. "
    "Invariant gate: merge table identical to an independent "
    "in-memory Sennrich BPE on the same word counts "
    "(tools/check_oracle.py prints the verdict).",
)
def q162(spark, sf_dir):
    return textops.bpe_train(_t(spark, sf_dir, "documents"), n_merges=10)


@query(
    "q163_bpe_tokenize",
    None,
    "Tokenize with the TRAINED vocab (rows-only): q162's learned "
    "merges applied corpus-wide as chained pure-expression greedy "
    "folds inside ONE projection — no UDF, no shuffle, no per-merge "
    "job; token count under the trained tokenizer is the budgeting "
    "currency of every mix/pack step. Invariant gate: per-doc token "
    "arrays from the same bpe_encode projection identical to an "
    "independent in-memory BPE encode, and this query's n_bpe_tokens "
    "equal to each array's length (tools/check_oracle.py prints the "
    "verdict).",
)
def q163(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    merges = [
        (r["left"], r["right"])
        for r in textops.bpe_train(docs, n_merges=6).collect()
    ]
    return textops.bpe_encode(docs, merges).select("doc_id", "n_bpe_tokens")


@query(
    "q164_bpe_tokenize_ranked",
    None,
    "Production-vocab BPE tokenize (rows-only): the batched train "
    "(top-8 non-overlapping merges/round, ~n/8 driver round-trips) "
    "feeds the RANKED Arrow kernel — broadcast pair->rank dict, "
    "lowest-rank-first merge loop per word, per-batch word cache — "
    "which handles 32k-merge vocabs that the expression-fold q163 "
    "path cannot (one nested Catalyst fold per merge). Shuffle-free "
    "narrow projection. Invariant gate: per-doc token arrays "
    "identical to BOTH the expression-fold encoder and an "
    "independent in-memory ranked encode "
    "(tools/check_oracle.py prints the verdict).",
)
def q164(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    merges = [
        (r["left"], r["right"])
        for r in textops.bpe_train(docs, n_merges=24, batch_m=8).collect()
    ]
    return textops.bpe_encode_ranked(docs, merges).select(
        "doc_id", "n_bpe_tokens"
    )


@query(
    "q166_semantic_decontaminate",
    """WITH bench AS (
         SELECT vec_id + 10000 AS bench_id,
                CAST(list_transform(CAST(embedding AS DOUBLE[]),
                       (x, i) -> x * (1.0 + 0.002 * ((i - 1) % 3)))
                     AS FLOAT[]) AS bv
         FROM embeddings WHERE vec_id < 40
         UNION ALL
         SELECT vec_id + 20000 AS bench_id,
                CAST(list_reverse(CAST(embedding AS DOUBLE[])) AS FLOAT[])
         FROM embeddings WHERE vec_id >= 40 AND vec_id < 80),
       s AS (SELECT t.vec_id, b.bench_id,
               ROUND((list_dot_product(CAST(t.embedding AS DOUBLE[]),
                                       CAST(b.bv AS DOUBLE[])) /
                 (sqrt(list_dot_product(CAST(t.embedding AS DOUBLE[]),
                                        CAST(t.embedding AS DOUBLE[]))) *
                  sqrt(list_dot_product(CAST(b.bv AS DOUBLE[]),
                                        CAST(b.bv AS DOUBLE[]))))) * 1000000)
                 / 1000000 AS cosine
             FROM embeddings t CROSS JOIN bench b),
       f AS (SELECT vec_id, bench_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cosine DESC, bench_id) AS rn
             FROM s WHERE cosine >= 0.99)
       SELECT vec_id, bench_id, cosine FROM f WHERE rn = 1""",
    "Cross-corpus SEMANTIC decontamination: flag train vectors whose "
    "meaning duplicates a benchmark item even when the text differs — "
    "the contamination shingle decontamination (q106/q139) cannot "
    "see. Benchmark = 40 planted perturbed copies of train vectors "
    "(the paraphrased-eval case) + 40 reversed-vector clean controls; "
    "both corpora hash with the same deterministic hyperplane family, "
    "candidate (train, bench) pairs come from bucket equi-joins + "
    "Hamming-1 probes exploded on the BENCH side only (eval sets are "
    "tiny; the train corpus is never exploded or self-paired), dedup "
    "as 16-byte id pairs, then exact cosine on the survivors. No "
    "false positives by construction; the planted pairs sit at "
    "cosine ~1 where multi-table multiprobe recall is ~1-1e-30, so "
    "the DuckDB brute-force twin hash-matches. Output: one row per "
    "contaminated train vector with its best benchmark match.",
)
def q166(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x * (1.0 + 0.002 * (i % 3))
        ).cast("array<float>").alias("embedding"),
    )
    controls = emb.filter(
        (F.col("vec_id") >= 40) & (F.col("vec_id") < 80)
    ).select(
        (F.col("vec_id") + 20000).alias("vec_id"),
        F.reverse("embedding").alias("embedding"),
    )
    bench = planted.unionByName(controls)
    out = similarity.semantic_decontaminate(
        emb, bench, threshold=0.99,
        corpus_n=table_rows(sf_dir, "embeddings"),
    )
    return out.select("vec_id", "bench_id", "cosine")


@query(
    "q168_temperature_mix",
    """WITH toks AS (SELECT doc_id, source,
                       len(list_filter(string_split(text, ' '), x -> x != ''))
                         AS n_tok
                     FROM documents),
         dom AS (SELECT source, SUM(n_tok) AS dom_tokens FROM toks GROUP BY source),
         tgt AS (SELECT source,
                   POWER(CAST(dom_tokens AS DOUBLE), 0.5)
                     / SUM(POWER(CAST(dom_tokens AS DOUBLE), 0.5)) OVER ()
                     AS target_frac
                 FROM dom),
         tot AS (SELECT SUM(n_tok) AS total_tokens FROM toks),
         rates AS (SELECT d.source,
                     LEAST(1.0, t.target_frac * tot.total_tokens / d.dom_tokens)
                       AS keep_rate
                   FROM dom d CROSS JOIN tot JOIN tgt t ON t.source = d.source)
       SELECT k.doc_id, k.source, k.n_tok,
              ROUND(r.keep_rate * 1000000) / 1000000 AS keep_rate
       FROM toks k JOIN rates r ON r.source = k.source
       WHERE CAST('0x' || substring(md5('tmix-v1' || CAST(k.doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % 10000
             < CAST(ROUND(r.keep_rate * 10000, 0) AS BIGINT)""",
    "Temperature-based mixture sampling (alpha = 0.5): the per-domain "
    "target shares are DERIVED from the corpus as share^alpha "
    "normalized — the multilingual rebalancing rule that boosts "
    "low-resource domains toward uniform — then applied with q125's "
    "stateless md5-bucket keep rule. The alpha-power normalization is "
    "a window over the |domains|-row table, never the corpus; the "
    "corpus is scanned once and never shuffled.",
)
def q168(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = training.temperature_mix(docs, alpha=0.5)
    return out.select(
        "doc_id", "source", "n_tok", oround(F.col("keep_rate"), 6).alias("keep_rate")
    )


@query(
    "q169_audio_neardup",
    None,
    "Audio NEAR-dup detection (rows-only: the WAV decode + envelope "
    "hash kernel is Python-side) — q167's audio twin: every document "
    "renders to its 8-bit PCM WAV (the q144 fixture path), 25 planted "
    "copies with ONE sample changed join the corpus, each clip "
    "fingerprints to a 64-bit energy-envelope hash (volume-invariant "
    "by construction — uniform gain flips no window comparison), and "
    "near-dup pairs come from the shared Hamming-band machinery "
    "(4 x 16-bit bands + exact popcount verify at Hamming <= 3). "
    "Invariant gate: pair set equals a brute-force all-pairs Hamming "
    "scan over the same fingerprints AND every planted pair is "
    "recovered (tools/check_oracle.py prints the verdict).",
)
def q169(spark, sf_dir):
    return _perceptual_neardup(
        spark, sf_dir,
        multimodal.text_as_wav_payload, multimodal.audio_ehashes,
        "ehash", 600000,
    )


@query(
    "q171_shard_assign",
    """WITH toks AS (SELECT doc_id,
                       len(list_filter(string_split(text, ' '), x -> x != ''))
                         AS n_tok
                     FROM documents),
         c AS (SELECT doc_id, n_tok,
                 COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS excl
               FROM toks)
       SELECT doc_id, n_tok,
              CAST(FLOOR(excl / 20000.0) AS BIGINT) AS shard
       FROM c""",
    "Training-shard assignment — cut a new shard every 20k tokens in "
    "deterministic doc order (the pack-into-shards step feeding the "
    "trainer's dataloader; a boundary-straddling doc belongs to the "
    "shard where it STARTS). The oracle is the naive global window "
    "(SUM OVER (ORDER BY id)) — which Spark would execute on ONE "
    "partition; the engine plan is the hierarchical prefix sum: "
    "per-id-range-bucket totals, an exclusive running offset over the "
    "|buckets|-row table only, broadcast offsets back, and a "
    "PARTITIONED within-bucket window — row-identical output with "
    "every corpus-sized stage parallel.",
)
def q171(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return training.shard_assign(docs, tokens_per_shard=20_000)


def _perceptual_neardup(spark, sf_dir, payload_fn, hashes_fn, hash_col, offset):
    """Shared body for the image/audio/video perceptual near-dup
    queries (q167/q169/q170): plant 25 one-byte edits at
    doc_id+offset, fingerprint the union with the modality's kernel,
    band-join at Hamming <= 3, and report each pair with its exact
    distance. One implementation so the planted-edit construction and
    the banding/verify parameters cannot drift between modalities
    (r6 code-review finding)."""
    docs = _t(spark, sf_dir, "documents")
    edited = docs.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + offset).alias("doc_id"),
        F.concat(
            F.substring(F.col("text"), 1, F.length("text") - 1), F.lit("#")
        ).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(edited)
    # checkpoint: the decode+hash kernel is the expensive pass and the
    # frame feeds three plan branches (band join sides + the hamming
    # re-join) — materialize once instead of decoding 3x
    hashed = (
        hashes_fn(payload_fn(corpus))
        .withColumnRenamed(hash_col, "simhash")
        .localCheckpoint(eager=True)
    )
    pairs = dedup.simhash_band_candidates(
        hashed, bits=64, bands=4, hamming_max=3
    )
    ha = hashed.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("_ha"))
    hb = hashed.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("_hb"))
    return (
        pairs.join(ha, "id_a")
        .join(hb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).alias("hamming"),
        )
    )


@query(
    "q170_video_neardup",
    None,
    "Video NEAR-dup detection (rows-only: the Y4M decode + profile "
    "hash kernel is Python-side) — completes the image/audio/video "
    "perceptual near-dup family: every document renders to its Y4M "
    "clip (the q157 fixture path, mono AND 420jpeg chroma layouts), "
    "25 planted copies with ONE pixel byte changed join the corpus, "
    "each clip fingerprints to a 64-bit brightness-profile hash over "
    "the concatenated Y planes (chroma-layout-invariant: only luma "
    "enters the stream, so a re-containered copy hashes identically), "
    "and near-dup pairs come from the shared Hamming-band machinery "
    "(4 x 16-bit bands + exact popcount verify at Hamming <= 3). "
    "Invariant gate: pair set equals a brute-force all-pairs Hamming "
    "scan over the same fingerprints AND every planted pair is "
    "recovered (tools/check_oracle.py prints the verdict).",
)
def q170(spark, sf_dir):
    return _perceptual_neardup(
        spark, sf_dir,
        multimodal.text_as_y4m_payload, multimodal.video_vhashes,
        "vhash", 700000,
    )


@query(
    "q167_image_neardup",
    None,
    "Image NEAR-dup detection (rows-only: the PNG decode + dHash "
    "kernel is Python-side): every document renders to its gray8 PNG "
    "(the q54 fixture path), 25 planted copies with ONE text byte "
    "changed join the corpus (a one-pixel edit — the re-encoded/"
    "retouched-duplicate case byte-digest dedup q36 cannot see), "
    "each image fingerprints to a 64-bit dHash (integer-exact block "
    "pooling), and near-dup pairs come from the existing Hamming-band "
    "machinery (4 x 16-bit bands, pigeonhole) with exact "
    "popcount-of-xor verification at Hamming <= 3 — one band "
    "equi-join, never an all-pairs pixel comparison. Invariant gate: "
    "the pair set equals a brute-force all-pairs Hamming scan over "
    "the same fingerprints AND every planted pair is recovered "
    "(tools/check_oracle.py prints the verdict).",
)
def q167(spark, sf_dir):
    return _perceptual_neardup(
        spark, sf_dir,
        multimodal.text_as_png_payload, multimodal.image_dhashes,
        "dhash", 500000,
    )


@query(
    "q172_avi_mjpeg_frames",
    None,
    "COMPRESSED-container video decode (rows-only: the RIFF walk + "
    "per-frame Huffman/IDCT is Python-side): each document renders as "
    "a REAL MJPEG-in-AVI payload (operators/multimodal.py::"
    "encode_avi_mjpeg — spec-shaped avih/strh/strf headers, '00dc' "
    "frame chunks, idx1 index; even doc_ids grayscale+restart "
    "frames, odd 4:2:0 YCbCr) and decodes back through the stdlib "
    "RIFF chunk walk (the WAV parser's sibling) + the dependency-free "
    "baseline-JPEG decoder, emitting one row per frame with the TRUE "
    "'00dc' chunk byte offset and mean luma. Closes the reference's "
    "compressed-container gap without ffmpeg (mp4/webm inter-frame "
    "codecs stay honestly quarantined). Invariant gate: identical "
    "(doc_id, frame_idx) set as the LOSSLESS Y4M twin of the same "
    "chunking, per-frame luma within 3 gray levels of the twin's "
    "exact value, and offsets strictly increasing inside each "
    "container (tools/check_oracle.py prints the verdict).",
)
def q172(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return multimodal.sample_video_frames(
        multimodal.text_as_avi_payload(docs), every_n=1
    )


@query(
    "q173_quality_classifier",
    None,
    "TRAINABLE quality classifier (rows-only: an iteratively trained "
    "model is not SQL-expressible): the GPT-3-appendix-A / CCNet "
    "classifier step as a weak-supervision demo — a seed rule labels "
    "the corpus (document contains the token 'spark'), logistic "
    "regression trains by full-batch Adagrad over crc32-hashed "
    "uni+bigram presence features (dim 1024, operators/classifier.py) "
    "on the doc_id%5!=0 split, and the %5==0 holdout comes back with "
    "(score, predicted, label). Per epoch exactly ONE distributed job "
    "runs — broadcast (dim+1)-row weights → per-doc margins → "
    "residual join → per-feature gradient — and (dim+1) floats reach "
    "the driver: BPE's vocabulary-bounded discipline, so the labeled "
    "corpus side is unbounded. Invariant gate: holdout accuracy beats "
    "the majority class AND the weights match an independent "
    "stdlib+numpy retrain (zlib.crc32 feature twin, identical Adagrad "
    "trajectory) to 1e-6 relative (tools/check_oracle.py prints the "
    "verdict).",
)
def q173(spark, sf_dir):
    from climate_data_pipelines_spark.functions.text import normalize_text, tokens
    from climate_data_pipelines_spark.operators import classifier

    docs = _t(spark, sf_dir, "documents")
    labels = docs.select(
        "doc_id",
        F.array_contains(tokens(normalize_text(F.col("text"))), "spark")
        .cast("int")
        .alias("label"),
    )
    feats = classifier.hashed_features(docs, dim=1024)
    train_ids = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id")
    weights = classifier.train_quality_classifier(
        feats.join(train_ids, "doc_id", "left_semi"),
        labels.join(train_ids, "doc_id", "left_semi"),
        dim=1024,
    )
    scores = classifier.classifier_score(feats, weights)
    return (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select("doc_id")
        .join(scores, "doc_id")
        .join(labels, "doc_id")
        .select(
            "doc_id",
            F.round(F.col("score"), 6).alias("score"),
            (F.col("score") > 0.5).cast("int").alias("predicted"),
            "label",
        )
    )


@query(
    "q174_warc_ingest",
    "SELECT doc_id, text FROM documents",
    "WARC ingestion roundtrip (sources/warc.py — the Common Crawl "
    "container, ISO 28500): the documents table renders as "
    "multi-member-gzip WARC file payloads (warcinfo lead + one "
    "HTTP/1.1 response record per doc wrapping a realistic HTML page "
    "with title/style/script noise; 50 docs per file via "
    "applyInPandas, each group file-sized by construction), the "
    "Arrow-batched stdlib kernel walks the gzip members and WARC/HTTP "
    "headers back to records, and html_to_text (pure JVM regexp "
    "chain, no UDF — script/style elision, tag strip, entity "
    "unescape) recovers the visible text. Oracle: the roundtrip must "
    "reproduce the documents table EXACTLY — SELECT doc_id, text. At "
    "crawl scale the same kernel runs over binaryFile scans "
    "(read_warc): one task per .warc.gz, the format's own "
    "parallelism unit.",
)
def q174(spark, sf_dir):
    from climate_data_pipelines_spark.sources import warc

    docs = _t(spark, sf_dir, "documents")
    payloads = warc.docs_as_warc_payload(docs, docs_per_file=50)
    recs = warc.parse_warc_payloads(payloads).filter(
        F.col("warc_type") == "response"
    )
    return recs.select(
        warc.warc_doc_id(F.col("target_uri")).alias("doc_id"),
        warc.html_to_text(F.col("body")).alias("text"),
    )


@query(
    "q165_binned_range_join",
    """WITH bands AS (SELECT o_custkey AS ck,
                        ROUND((AVG(o_totalprice) - 2000) * 100) / 100 AS lo,
                        ROUND((AVG(o_totalprice) + 2000) * 100) / 100 AS hi
                      FROM orders GROUP BY o_custkey)
       SELECT b.ck, COUNT(*) AS n_in_band,
              ROUND(SUM(o.o_totalprice) * 100) / 100 AS sum_price
       FROM orders o JOIN bands b
         ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
       GROUP BY b.ck""",
    "Bin-bucketed range join — the SCALE path for interval containment "
    "when the bounds side (here 1,500 per-customer price bands) is too "
    "large to broadcast: both sides quantize to 4,000-wide value bins, "
    "intervals explode across the bins they span, and the join is a "
    "plain shuffle EQUI-join on the bin + exact containment filter — "
    "no BroadcastNestedLoopJoin, no cartesian (plan-asserted in "
    "tests). A (fact, interval) match lands in exactly one bin (the "
    "fact's), so the output is duplicate-free without a distinct even "
    "with overlapping intervals. Oracle: DuckDB's native inequality "
    "join over the identical band table.",
)
def q165(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    bands = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        oround(F.avg("o_totalprice") - 2000.0, 2).alias("lo"),
        oround(F.avg("o_totalprice") + 2000.0, 2).alias("hi"),
    )
    joined = asof.binned_range_join(
        orders.select("o_totalprice"),
        bands,
        "o_totalprice",
        "lo",
        "hi",
        bin_width=4000.0,
    )
    return joined.groupBy("ck").agg(
        F.count("*").alias("n_in_band"),
        oround(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


# URL fixture shared by q175's Spark twin below — the oracle builds the
# IDENTICAL string in SQL, so the only thing differentially tested is
# the normalization + dedup, not the fixture. Variation axes chosen so
# that normalization must fix every one of them before duplicates
# collide: www-prefix vs UPPERCASE host (doc_id%3), explicit default
# port (%4), trailing slash (%5), fragment (%6), tracking params (%7)
# and param ORDER (%2). The surviving identity is
# (source, doc_id%120, page=doc_id%3) — 120 ≡ 0 (mod 3), so doc_id and
# doc_id+120 agree on the page param and real duplicate groups exist at
# every SF.
def _messy_url(doc_id: "F.Column", source: "F.Column") -> "F.Column":
    host0 = F.concat(source, F.lit(".example.org"))
    host = (
        F.when(doc_id % 3 == 0, F.concat(F.lit("www."), host0))
        .when(doc_id % 3 == 1, F.upper(host0))
        .otherwise(host0)
    )
    port = F.when(doc_id % 4 == 0, F.lit(":443")).otherwise(F.lit(""))
    trail = F.when(doc_id % 5 == 0, F.lit("/")).otherwise(F.lit(""))
    page = (doc_id % 3).cast("string")
    track = (doc_id % 7).cast("string")
    qs = F.when(
        doc_id % 2 == 0,
        F.concat(F.lit("?utm_source=u"), track, F.lit("&page="), page),
    ).otherwise(F.concat(F.lit("?page="), page, F.lit("&utm_campaign=c"), track))
    return F.concat(
        F.lit("https://"),
        host,
        port,
        F.lit("/docs/"),
        (doc_id % 120).cast("string"),
        trail,
        qs,
        F.lit("#sec"),
        (doc_id % 6).cast("string"),
    )


_URL_FIXTURE_SQL = """u AS (SELECT doc_id, n_chars,
            'https://' ||
            CASE doc_id % 3
              WHEN 0 THEN 'www.' || source || '.example.org'
              WHEN 1 THEN upper(source || '.example.org')
              ELSE source || '.example.org' END ||
            CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END ||
            '/docs/' || CAST(doc_id % 120 AS VARCHAR) ||
            CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
            CASE WHEN doc_id % 2 = 0
                 THEN '?utm_source=u' || CAST(doc_id % 7 AS VARCHAR)
                      || '&page=' || CAST(doc_id % 3 AS VARCHAR)
                 ELSE '?page=' || CAST(doc_id % 3 AS VARCHAR)
                      || '&utm_campaign=c' || CAST(doc_id % 7 AS VARCHAR) END ||
            '#sec' || CAST(doc_id % 6 AS VARCHAR) AS url
          FROM documents)"""


@query(
    "q175_url_dedup",
    f"""WITH {_URL_FIXTURE_SQL},
         n1 AS (SELECT doc_id, n_chars,
                  regexp_replace(trim(url), '#.*$', '') AS no_frag
                FROM u),
         n2 AS (SELECT doc_id, n_chars,
                  lower(regexp_extract(no_frag,
                        '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                  regexp_replace(no_frag,
                        '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS after
                FROM n1),
         n2b AS (SELECT *,
                   lower(regexp_replace(
                       regexp_extract(after, '^([^/?]+)', 1),
                       '^[^@]*@', '')) AS hostport
                 FROM n2),
         n3 AS (SELECT doc_id, n_chars, scheme,
                  regexp_replace(
                      CASE WHEN scheme = 'http'
                             THEN regexp_replace(hostport, ':80$', '')
                           WHEN scheme = 'https'
                             THEN regexp_replace(hostport, ':443$', '')
                           ELSE hostport END,
                      '^www\\.', '') AS host,
                  regexp_replace(after, '^[^/?]+', '') AS pathq
                FROM n2b),
         n4 AS (SELECT doc_id, n_chars, scheme, host,
                  regexp_replace(regexp_extract(pathq, '^([^?]*)', 1),
                                 '/+$', '') AS path0,
                  regexp_extract(pathq, '\\?(.*)$', 1) AS q
                FROM n3),
         n5 AS (SELECT doc_id, n_chars, scheme, host,
                  CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
                  list_sort(list_filter(string_split(q, '&'),
                      p -> p != '' AND NOT regexp_matches(p,
                           '^(utm_[^=]*|fbclid|gclid|ref)='))) AS params
                FROM n4),
         norm AS (SELECT doc_id, n_chars,
                    scheme || '://' || host || path ||
                    CASE WHEN len(params) > 0
                         THEN '?' || array_to_string(params, '&')
                         ELSE '' END AS url_norm
                  FROM n5),
         ranked AS (SELECT url_norm, doc_id,
                      COUNT(*) OVER (PARTITION BY url_norm) AS dup_count,
                      ROW_NUMBER() OVER (PARTITION BY url_norm
                          ORDER BY n_chars DESC, doc_id) AS rn
                    FROM norm)
       SELECT url_norm, doc_id AS keeper_id, dup_count
       FROM ranked WHERE rn = 1""",
    "URL-level crawl dedup (the cheapest dedup pass — runs before any "
    "content hash because a re-crawl shares its canonical URL even "
    "when ads/timestamps change the bytes; generalizes the "
    "reference's fixed-URL ingest, pipelines/precipitation_pipeline"
    ".py:33-36). Each doc gets a deterministically MESSY url (case/"
    "www/port/slash/fragment/tracking-param/param-order variants — "
    "identical construction in both twins); functions.text."
    "normalize_url canonicalizes it with pure Column expressions "
    "(codegen, no Python) and dedup.url_dedup keeps the highest-"
    "n_chars copy per canonical URL in ONE max_by/count aggregate — "
    "a single exchange keyed on a short string. The oracle normalizes "
    "with an equivalent SQL regexp chain and picks keepers with the "
    "naive corpus window the engine deliberately avoids.",
)
def q175(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    urls = docs.select(
        F.col("doc_id"),
        F.col("n_chars"),
        _messy_url(F.col("doc_id"), F.col("source")).alias("url"),
    )
    return dedup.url_dedup(urls, url_col="url", quality_col="n_chars")


# q176's planted-superset fixture: docs 0-24 get a twin at id+900000
# whose text is the original PLUS the first 40 tokens of the NEXT doc
# (≈25% growth) — the "re-crawled page with a comment section" case.
# Containment(orig → twin) ≈ 1 while Jaccard ≈ 0.8, so the standard
# bands still fire but symmetric-Jaccard thresholds at 0.8+ would
# score it as barely-similar. Shared between the Spark twin and the
# oracle CTE below.
_CONTAIN_AUG_SQL = """aug AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT d.doc_id + 900000,
                  d.text || ' ' || array_to_string(list_slice(
                      list_filter(string_split(n.text, ' '), x -> x != ''),
                      1, 40), ' ')
           FROM documents d JOIN documents n ON n.doc_id = d.doc_id + 1
           WHERE d.doc_id < 25)"""


@query(
    "q176_containment_neardup",
    f"""WITH {_CONTAIN_AUG_SQL},
        {_minhash_ctes().replace("FROM documents", "FROM aug")},
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         common AS (SELECT e.id_a, e.id_b, COUNT(*) AS n_common
                    FROM edges e
                    JOIN sh a ON a.doc_id = e.id_a
                    JOIN sh b ON b.doc_id = e.id_b AND b.shingle = a.shingle
                    GROUP BY 1, 2),
         sc AS (SELECT e.id_a, e.id_b,
                  COALESCE(c.n_common, 0) AS n_common,
                  COALESCE(sa.n_sh, 0) AS n_a,
                  COALESCE(sb.n_sh, 0) AS n_b
                FROM edges e
                LEFT JOIN common c ON c.id_a = e.id_a AND c.id_b = e.id_b
                LEFT JOIN sizes sa ON sa.doc_id = e.id_a
                LEFT JOIN sizes sb ON sb.doc_id = e.id_b),
         scored AS (SELECT id_a, id_b, n_common, n_a, n_b,
                      CASE WHEN n_a > 0
                           THEN ROUND(CAST(n_common AS DOUBLE) / n_a
                                      * 1000000) / 1000000
                           ELSE 0.0 END AS cont_a,
                      CASE WHEN n_b > 0
                           THEN ROUND(CAST(n_common AS DOUBLE) / n_b
                                      * 1000000) / 1000000
                           ELSE 0.0 END AS cont_b
                    FROM sc)
       SELECT * FROM scored WHERE greatest(cont_a, cont_b) >= 0.8""",
    "Near-CONTAINMENT detection (Broder's containment coefficient — "
    "the asymmetric case symmetric Jaccard dedup under-scores: a page "
    "re-crawled WITH its comment section, a quote inside a digest). "
    "Candidates come from the SAME banded MinHash join as q90 (no new "
    "index — at 100 TB the banding is the only pair generator that "
    "exists), then dedup.containment_on_pairs verifies each candidate "
    "with exact shingle-set arithmetic in BOTH directions "
    "(|A∩B|/|A| and /|B|), per-pair cost only. Planted supersets "
    "(+25% appended text) score cont≈1.0 where their Jaccard is only "
    "≈0.8. Recall is floored by candidate-stage Jaccard; the "
    "LSH-invisible tiny-doc-in-huge-doc range is covered by q179's "
    "prefix-filter containment join. Oracle replays signatures/"
    "banding bit-for-bit and verifies with plain SQL set arithmetic.",
)
def q176(spark, sf_dir):
    from climate_data_pipelines_spark.functions.text import tokens as _toks

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    nxt = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"),
        F.concat_ws(" ", F.slice(_toks("text"), 1, 40)).alias("_extra"),
    )
    planted = (
        docs.filter(F.col("doc_id") < 25)
        .join(nxt, "doc_id")
        .select(
            (F.col("doc_id") + 900000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" "), F.col("_extra")).alias("text"),
        )
    )
    # materialize the 25-row planted frame BEFORE the union: left
    # inline, its doc⋈doc join rides the signature/banding lineage and
    # the banding self-join replays the full-corpus tokenize under it —
    # measured 231 s -> 24 s for the candidate stage at x100 (the r7
    # verdict's ×51.9 scale cliff was THIS, not the verify joins,
    # which profile at <40 s of the 253 s total)
    planted = planted.localCheckpoint(eager=True)
    corpus = docs.unionByName(planted)
    sigs = dedup.minhash_signatures(corpus, k=3, n_hashes=MINHASH_N)
    cand = dedup.minhash_lsh_candidates(
        sigs, n_hashes=MINHASH_N, bands=MINHASH_BANDS
    )
    # same materialization q122 does before ITS verify stage: the
    # containment verify references the pair frame several times
    # (endpoint set + two shingle joins + final left joins), and an
    # un-checkpointed reference replays the whole signature+bucket
    # join each time (measured ×32 on the x100 scale curve without
    # this; at scale: persist/write the candidate table)
    cand = cand.localCheckpoint(eager=True)
    scored = dedup.containment_on_pairs(corpus, cand)
    return scored.filter(F.greatest(F.col("cont_a"), F.col("cont_b")) >= 0.8)


@query(
    "q177_trigram_lm_score",
    """WITH tr AS (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x != '') AS toks
                   FROM documents WHERE doc_id % 5 != 0),
         he AS (SELECT doc_id, toks
                FROM (SELECT doc_id,
                        list_filter(string_split(text, ' '), x -> x != '') AS toks
                      FROM documents WHERE doc_id % 5 = 0)
                WHERE len(toks) >= 3),
         c3 AS (SELECT tri, COUNT(*) AS c3
                FROM (SELECT unnest([array_to_string(list_slice(toks, i, i + 2), ' ')
                                     FOR i IN generate_series(1, len(toks) - 2)]) AS tri
                      FROM tr WHERE len(toks) >= 3)
                GROUP BY 1),
         c2 AS (SELECT bi, COUNT(*) AS c2
                FROM (SELECT unnest([array_to_string(list_slice(toks, i, i + 1), ' ')
                                     FOR i IN generate_series(1, len(toks) - 1)]) AS bi
                      FROM tr WHERE len(toks) >= 2)
                GROUP BY 1),
         c1 AS (SELECT w, COUNT(*) AS c1
                FROM (SELECT unnest(toks) AS w FROM tr) GROUP BY 1),
         n AS (SELECT CAST(SUM(c1) AS DOUBLE) AS n_total FROM c1),
         occ AS (SELECT doc_id,
                   unnest([array_to_string(list_slice(toks, i, i + 2), ' ')
                           FOR i IN generate_series(1, len(toks) - 2)]) AS tri
                 FROM he),
         vocab AS (SELECT DISTINCT tri FROM occ),
         parts AS (SELECT tri,
                     array_to_string(list_slice(string_split(tri, ' '), 1, 2), ' ') AS b12,
                     array_to_string(list_slice(string_split(tri, ' '), 2, 3), ' ') AS b23,
                     split_part(tri, ' ', 2) AS w2,
                     split_part(tri, ' ', 3) AS w3
                   FROM vocab),
         dim AS (SELECT p.tri,
                   ln(CASE
                        WHEN c3.c3 IS NOT NULL
                          THEN CAST(c3.c3 AS DOUBLE) / CAST(c2a.c2 AS DOUBLE)
                        WHEN c2b.c2 IS NOT NULL
                          THEN 0.4 * CAST(c2b.c2 AS DOUBLE) / CAST(c1a.c1 AS DOUBLE)
                        WHEN c1b.c1 IS NOT NULL
                          THEN 0.4 * 0.4 * CAST(c1b.c1 AS DOUBLE) / n.n_total
                        ELSE 0.4 * 0.4 * 0.5 / n.n_total
                      END) AS logscore
                 FROM parts p
                 LEFT JOIN c3 ON c3.tri = p.tri
                 LEFT JOIN c2 c2a ON c2a.bi = p.b12
                 LEFT JOIN c2 c2b ON c2b.bi = p.b23
                 LEFT JOIN c1 c1a ON c1a.w = p.w2
                 LEFT JOIN c1 c1b ON c1b.w = p.w3
                 CROSS JOIN n)
       SELECT doc_id, COUNT(*) AS n_trigrams,
              ROUND(AVG(logscore) * 10000) / 10000 AS avg_logscore
       FROM occ JOIN dim USING (tri) GROUP BY doc_id""",
    "Stupid-backoff trigram LM perplexity filter (Brants et al., "
    "EMNLP 2007 — the backoff DESIGNED for distributed count tables: "
    "every score is a ratio of counts, training is exactly three hash "
    "aggregations, no discount-estimation pass). One order up from "
    "q118's self-trained bigram MLE, and with a REAL train/score "
    "split (doc_id%5) so scored docs exercise all four backoff tiers "
    "including the OOV floor. Scores are computed on the DISTINCT "
    "heldout trigram vocabulary via five vocab×vocab left joins, then "
    "joined back to occurrences once — at 100 TB the corpus-sized "
    "occurrence table touches exactly two shuffles.",
)
def q177(spark, sf_dir):
    out = training.trigram_lm_score(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_trigrams").cast("long").alias("n_trigrams"),
        F.col("avg_logscore"),
    )


@query(
    "q178_simhash_capped_candidates",
    f"""WITH{_simhash_ctes()},
         bands AS (SELECT doc_id, simhash, g.band,
                     (simhash >> (g.band * {SIMHASH_BITS // SIMHASH_BANDS}))
                       & {(1 << (SIMHASH_BITS // SIMHASH_BANDS)) - 1} AS bv
                   FROM fp,
                        (SELECT unnest(generate_series(0, {SIMHASH_BANDS - 1})) AS band) g),
         widths AS (SELECT *, COUNT(*) OVER (PARTITION BY band, bv) AS w
                    FROM bands),
         salted AS (SELECT doc_id, simhash, band, bv,
                      CASE WHEN w > {SIMHASH_CAP} THEN
                        CAST(('0x' || substring(md5(CAST(band AS VARCHAR) || ':'
                               || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                          % GREATEST(CAST(CEIL(w / {SIMHASH_CAP}.0) AS BIGINT),
                                     CAST(1 AS BIGINT))
                      ELSE 0 END AS salt
                    FROM widths)
       SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       FROM salted a JOIN salted b
         ON a.band = b.band AND a.bv = b.bv AND a.salt = b.salt
            AND a.doc_id < b.doc_id
       WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_BANDS - 1}""",
    "SALT-CAPPED SimHash band candidates — q124's scale armor (the r7 "
    "watch item: q124's verified pairs grew ×6819 at ×100 data on the "
    "word-soup fixture because nothing bounds a hot band value's "
    "width² join). A band bucket wider than the cap splits into "
    "⌈width/cap⌉ deterministic md5 salt groups, so a degenerate value "
    "emits at most ~width·cap pairs. The salt is keyed by (band, id) "
    "— id-only salting splits every band IDENTICALLY, making a pair "
    "of exact-duplicate fingerprints (hot in all bands at once) "
    "unrecoverable; band-keyed splits are independent, so a pair "
    "salted apart in one band meets in another (the semantic_dedup "
    "table-keyed lesson). The oracle replays fingerprints, widths, "
    "salts, and the Hamming verify bit-for-bit in SQL — the cap is "
    "deterministic, not sampling. Trade-off, measured: on the "
    "HOMOGENEOUS word-soup fixture (where x100 true pairs are 3.0M "
    "because everything near-dups everything) the cap keeps ~linear "
    "candidate growth (rows x82 vs q124's x6819 at x100; wall x2.2) "
    "at the cost of pair recall inside the degenerate buckets — so "
    "the cap is q124's armor for adversarial/boilerplate band values, "
    "NOT the default: exact-contract queries leave bucket_cap=None.",
)
def q178(spark, sf_dir):
    fp = dedup.simhash_md5(_t(spark, sf_dir, "documents"), bits=SIMHASH_BITS)
    return dedup.simhash_band_candidates(
        fp,
        bits=SIMHASH_BITS,
        bands=SIMHASH_BANDS,
        hamming_max=SIMHASH_BANDS - 1,
        bucket_cap=SIMHASH_CAP,
    )


@query(
    "q179_small_in_large_containment",
    """WITH aug AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 950000,
                  array_to_string(list_slice(
                      list_filter(string_split(text, ' '), x -> x != ''),
                      5, 20), ' ')
           FROM documents WHERE doc_id < 25),
         t AS (SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x != '') AS toks
               FROM aug),
         sh AS (SELECT DISTINCT doc_id,
                       array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
                FROM t, UNNEST(generate_series(1, greatest(len(toks) - 2, 1))) AS u(i)),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         small AS (SELECT doc_id FROM sizes WHERE n_sh <= 16),
         common AS (SELECT a.doc_id AS id_small, b.doc_id AS id_large,
                           COUNT(*) AS n_common
                    FROM sh a
                    JOIN small s ON s.doc_id = a.doc_id
                    JOIN sh b ON b.shingle = a.shingle AND b.doc_id != a.doc_id
                    GROUP BY 1, 2)
       SELECT c.id_small, c.id_large, c.n_common,
              sa.n_sh AS n_small, sb.n_sh AS n_large,
              ROUND(CAST(c.n_common AS DOUBLE) / sa.n_sh * 1000000) / 1000000
                AS containment
       FROM common c
       JOIN sizes sa ON sa.doc_id = c.id_small
       JOIN sizes sb ON sb.doc_id = c.id_large
       WHERE CAST(c.n_common AS DOUBLE) / sa.n_sh >= 0.9""",
    "Small-doc-in-LARGE-doc containment — closes the one documented "
    "recall hole in the dedup family (q176's floor: a tiny doc inside "
    "a huge doc has Jaccard |A|/|B| → 0, so banded MinHash never "
    "pairs it, while containment = 1). Spark plan is the PREFIX-"
    "FILTER set join (Chaudhuri ICDE'06 / PPJoin, the Spark-first "
    "stand-in for LSH-Ensemble's size-partitioned index): a small doc "
    "missing ≤ (1−t)·n of its shingles in B must share one of its "
    "⌊(1−t)·n⌋+1 RAREST shingles with B, so the candidate join runs "
    "prefix ⋈ inverted-index on deliberately-cold keys, then "
    "containment_on_pairs verifies exactly. LOSSLESS for the small "
    "side — which is why the oracle is the direct all-pairs SQL "
    "ground truth, not a replay of the prefix mechanics: the engine "
    "must reproduce the true answer exactly. Fixture plants 25 tiny "
    "16-token excerpts (tokens 5-20 of hosts 0-24) at id+950000: "
    "containment(tiny→host) = 1.0, Jaccard ≈ 0.05 — invisible to "
    "every LSH query, found here.",
)
def q179(spark, sf_dir):
    from climate_data_pipelines_spark.functions.text import tokens as _toks

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tiny = docs.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 950000).alias("doc_id"),
        F.concat_ws(" ", F.slice(_toks("text"), 5, 16)).alias("text"),
    )
    corpus = docs.unionByName(tiny)
    # small_max=16 targets genuinely EXCERPT-sized docs (the planted
    # tinies have 14 shingles). The word-soup fixture is pathological
    # for larger bounds: at small_max=64 the "small" side is 63% of
    # the x100 corpus, so the prefix join degenerates into an
    # everything-vs-index probe — the operator's contract is tiny-in-
    # huge, not mid-in-huge (banded MinHash already covers Jaccard-
    # visible sizes).
    # df_cap=64: bounds the candidate fan-out at ~cap·prefix rows per
    # small doc. At the sf0.01 oracle scale the max shingle df is 7,
    # so the cap NEVER engages there and the oracle stays the direct
    # ground truth; it exists for corpora whose "rarest" shingles are
    # still hot — the homogeneous word-soup scale fixture (trigram df
    # grows linearly at fixed vocabulary, so the uncapped prefix join
    # is quadratic on it), or boilerplate-heavy crawls. Real Zipf text
    # keeps tiny docs' rarest trigrams far below any reasonable cap.
    return dedup.containment_small_in_large(
        corpus, k=3, threshold=0.9, small_max=16, df_cap=64
    )


@query(
    "q180_corpus_datasheet",
    """WITH t AS (SELECT source, lang, n_chars,
                    list_filter(string_split(text, ' '), x -> x != '') AS toks,
                    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
                  FROM documents),
         s AS (SELECT source, lang, n_chars, norm,
                 len(toks) AS n_tok,
                 CASE WHEN len(toks) >= 10
                       AND list_sum(list_transform(toks,
                             x -> CAST(length(x) AS DOUBLE))) / len(toks)
                           BETWEEN 2.0 AND 12.0
                       AND len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)
                           >= 0.1
                      THEN 1 ELSE 0 END AS ok
               FROM t)
       SELECT source,
              COUNT(*) AS n_docs,
              CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
              ROUND(AVG(n_tok) * 1000000) / 1000000 AS avg_tokens,
              CAST(SUM(n_chars) AS BIGINT) AS total_chars,
              COUNT(DISTINCT lang) AS n_langs,
              COUNT(DISTINCT norm) AS n_unique_docs,
              ROUND((1.0 - COUNT(DISTINCT norm) / CAST(COUNT(*) AS DOUBLE))
                    * 1000000) / 1000000 AS dup_rate,
              ROUND(AVG(ok) * 1000000) / 1000000 AS quality_pass_rate
       FROM s GROUP BY source""",
    "Corpus DATASHEET per source slice ('Datasheets for Datasets', "
    "Gebru et al. CACM'21 — the release summary every training-data "
    "pipeline publishes): doc/token/char volumes, language spread, "
    "exact-dup rate (1 − distinct normalized texts / docs) and "
    "quality pass-rate (the engine-wide quality_predicate, NULL-safe "
    "via WHEN..OTHERWISE 0 = the SQL CASE..ELSE 0). ONE aggregation "
    "pass, honest shuffle shape: the two distinct-counts plan an "
    "Expand + two exchanges, so the Spark side counts DISTINCT "
    "sha2-256 digests of the normalized text (the exact_dedup key "
    "discipline) — the corpus-sized exchange carries 32-byte keys, "
    "never bodies; the oracle counts the raw normalized strings, "
    "equal by digest injectivity (q36's own equivalence). No "
    "window/join/second scan.",
)
def q180(spark, sf_dir):
    return textops.corpus_datasheet(_t(spark, sf_dir, "documents"))


@query(
    "q181_perplexity_bucket_mix",
    """WITH tr AS (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x != '') AS toks
                   FROM documents WHERE doc_id % 5 != 0),
         he AS (SELECT doc_id, toks
                FROM (SELECT doc_id,
                        list_filter(string_split(text, ' '), x -> x != '') AS toks
                      FROM documents)
                WHERE len(toks) >= 3),
         c3 AS (SELECT tri, COUNT(*) AS c3
                FROM (SELECT unnest([array_to_string(list_slice(toks, i, i + 2), ' ')
                                     FOR i IN generate_series(1, len(toks) - 2)]) AS tri
                      FROM tr WHERE len(toks) >= 3)
                GROUP BY 1),
         c2 AS (SELECT bi, COUNT(*) AS c2
                FROM (SELECT unnest([array_to_string(list_slice(toks, i, i + 1), ' ')
                                     FOR i IN generate_series(1, len(toks) - 1)]) AS bi
                      FROM tr WHERE len(toks) >= 2)
                GROUP BY 1),
         c1 AS (SELECT w, COUNT(*) AS c1
                FROM (SELECT unnest(toks) AS w FROM tr) GROUP BY 1),
         n AS (SELECT CAST(SUM(c1) AS DOUBLE) AS n_total FROM c1),
         occ AS (SELECT doc_id,
                   unnest([array_to_string(list_slice(toks, i, i + 2), ' ')
                           FOR i IN generate_series(1, len(toks) - 2)]) AS tri
                 FROM he),
         vocab AS (SELECT DISTINCT tri FROM occ),
         parts AS (SELECT tri,
                     array_to_string(list_slice(string_split(tri, ' '), 1, 2), ' ') AS b12,
                     array_to_string(list_slice(string_split(tri, ' '), 2, 3), ' ') AS b23,
                     split_part(tri, ' ', 2) AS w2,
                     split_part(tri, ' ', 3) AS w3
                   FROM vocab),
         dim AS (SELECT p.tri,
                   ln(CASE
                        WHEN c3.c3 IS NOT NULL
                          THEN CAST(c3.c3 AS DOUBLE) / CAST(c2a.c2 AS DOUBLE)
                        WHEN c2b.c2 IS NOT NULL
                          THEN 0.4 * CAST(c2b.c2 AS DOUBLE) / CAST(c1a.c1 AS DOUBLE)
                        WHEN c1b.c1 IS NOT NULL
                          THEN 0.4 * 0.4 * CAST(c1b.c1 AS DOUBLE) / n.n_total
                        ELSE 0.4 * 0.4 * 0.5 / n.n_total
                      END) AS logscore
                 FROM parts p
                 LEFT JOIN c3 ON c3.tri = p.tri
                 LEFT JOIN c2 c2a ON c2a.bi = p.b12
                 LEFT JOIN c2 c2b ON c2b.bi = p.b23
                 LEFT JOIN c1 c1a ON c1a.w = p.w2
                 LEFT JOIN c1 c1b ON c1b.w = p.w3
                 CROSS JOIN n),
         scores AS (SELECT doc_id,
                      ROUND(AVG(logscore) * 10000) / 10000 AS avg_logscore
                    FROM occ JOIN dim USING (tri) GROUP BY doc_id),
         ranked AS (SELECT s.doc_id, d.lang, s.avg_logscore,
                      percent_rank() OVER (PARTITION BY d.lang
                                           ORDER BY s.avg_logscore ASC) AS pr
                    FROM scores s JOIN documents d USING (doc_id)),
         bucketed AS (SELECT doc_id, lang, avg_logscore,
                        CASE WHEN pr >= 2.0/3.0 THEN 'head'
                             WHEN pr >= 1.0/3.0 THEN 'middle'
                             ELSE 'tail' END AS bucket
                      FROM ranked)
       SELECT doc_id, lang, bucket, avg_logscore
       FROM bucketed
       WHERE CAST('0x' || substring(md5('ppl-v1' || CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % 10000 <
             CASE bucket WHEN 'head' THEN 10000
                         WHEN 'middle' THEN 5000 ELSE 1000 END""",
    "CCNet-style perplexity-bucket mixing (Wenzek et al., LREC 2020 — "
    "the curation stage LLaMA's recipe popularized): every scoreable "
    "doc gets the self-trained stupid-backoff trigram fluency score "
    "(q177's LM, score_all), is percent_rank'd WITHIN its language "
    "(the q143 calibration lesson — one absolute threshold penalizes "
    "whole languages), cut into head/middle/tail thirds, and kept at "
    "1.0/0.5/0.1 via the engine-wide salted-md5 rule (q138's "
    "deterministic sampler — no partition-order RNG anywhere). "
    "Ranking runs on the ROUNDED score so tie groups pin across "
    "engines. Scale: the LM's two corpus-sized shuffles + ONE "
    "lang-keyed window over (id, score) pairs + a stateless keep "
    "predicate.",
)
def q181(spark, sf_dir):
    return training.perplexity_bucket_mix(_t(spark, sf_dir, "documents"))


# q182's planted recrawl fixture: docs 0-49 re-appear under three
# synthetic "recrawl_k" sources (text unchanged — the CommonCrawl
# month-to-month snapshot overlap case). The natural corpus has zero
# cross-source exact dups at oracle scale, so the matrix is entirely
# the planted, deterministic overlap — shared verbatim by both twins.
@query(
    "q182_cross_source_overlap",
    """WITH corpus AS (
           SELECT text, source FROM documents
           UNION ALL
           SELECT text, 'recrawl_' || CAST(doc_id % 3 AS VARCHAR)
           FROM documents WHERE doc_id < 50),
         ds AS (SELECT DISTINCT
                  trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm,
                  source
                FROM corpus),
         per AS (SELECT source, COUNT(*) AS n FROM ds GROUP BY 1),
         pr AS (SELECT a.source AS source_a, b.source AS source_b,
                  COUNT(*) AS n_shared
                FROM ds a
                JOIN ds b ON a.norm = b.norm AND a.source < b.source
                GROUP BY 1, 2)
       SELECT source_a, source_b, n_shared,
              ROUND(CAST(n_shared AS DOUBLE) / least(pa.n, pb.n)
                    * 1000000) / 1000000 AS overlap_frac
       FROM pr
       JOIN per pa ON pa.source = pr.source_a
       JOIN per pb ON pb.source = pr.source_b""",
    "Source×source duplicate-overlap MATRIX (textops."
    "cross_source_overlap) — the datasheet companion q180 publishes "
    "when a release mixes crawls: distinct normalized docs appearing "
    "in BOTH sources of every pair, plus the overlap fraction vs the "
    "smaller side. The engine never self-joins digests: one distinct "
    "over (sha2, source), one collect_set per digest (bounded by "
    "|sources|, not corpus size), pairs exploded map-side from each "
    "set, one tiny final agg — two corpus exchanges total, both on "
    "32-byte keys. The oracle does the naive distinct self-join on "
    "the raw normalized text, equal by sha2 injectivity (q36/q180's "
    "equivalence).",
)
def q182(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    planted = docs.filter(F.col("doc_id") < 50).select(
        F.col("text"),
        F.concat(
            F.lit("recrawl_"), (F.col("doc_id") % 3).cast("string")
        ).alias("source"),
    )
    corpus = docs.select("text", "source").unionByName(planted)
    return textops.cross_source_overlap(corpus)


# q183's planted degenerate docs: ids 0-9 get a twin at id+940000
# whose text is their FIRST token repeated 30 times — ttr 1/30,
# dup-bigram fraction 1.0, max run 30: the spam shape every
# repetition rule exists to kill. Identical construction both twins.
@query(
    "q183_gopher_rules",
    """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 940000,
                  trim(repeat((list_filter(string_split(text, ' '),
                                x -> x != ''))[1] || ' ', 30))
           FROM documents WHERE doc_id < 10),
         t AS (SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x != '') AS toks
               FROM corpus),
         m AS (SELECT doc_id, toks, len(toks) AS n_tokens,
                 ROUND(list_sum(list_transform(toks,
                       x -> CAST(length(x) AS DOUBLE))) / len(toks)
                       * 1000000) / 1000000 AS mean_tok_len,
                 ROUND(len(list_distinct(toks))
                       / CAST(len(toks) AS DOUBLE)
                       * 1000000) / 1000000 AS ttr
               FROM t),
         bi AS (SELECT doc_id,
                  unnest([array_to_string(list_slice(toks, i, i + 1), ' ')
                          FOR i IN generate_series(1, len(toks) - 1)]) AS bg
                FROM t WHERE len(toks) >= 2),
         bic AS (SELECT doc_id, bg, COUNT(*) AS c FROM bi GROUP BY 1, 2),
         dupbi AS (SELECT doc_id, SUM(c) AS n_bi,
                     SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS n_dup
                   FROM bic GROUP BY 1),
         pos AS (SELECT doc_id,
                   unnest([{'p': i, 'tok': toks[i]}
                           FOR i IN generate_series(1, len(toks))],
                          recursive := true)
                 FROM t),
         isl AS (SELECT doc_id, p, tok,
                   p - ROW_NUMBER() OVER (PARTITION BY doc_id, tok
                                          ORDER BY p) AS grp
                 FROM pos),
         runs AS (SELECT doc_id, MAX(cnt) AS max_run
                  FROM (SELECT doc_id, tok, grp, COUNT(*) AS cnt
                        FROM isl GROUP BY 1, 2, 3)
                  GROUP BY 1),
         j AS (SELECT m.doc_id, m.n_tokens, m.mean_tok_len, m.ttr,
                 COALESCE(ROUND(d.n_dup / CAST(d.n_bi AS DOUBLE)
                                * 1000000) / 1000000, 0.0)
                   AS dup_bigram_frac,
                 CAST(COALESCE(r.max_run, 0) AS INT) AS max_run
               FROM m
               LEFT JOIN dupbi d USING (doc_id)
               LEFT JOIN runs r USING (doc_id)),
         f AS (SELECT *,
                 concat_ws(',',
                   CASE WHEN n_tokens < 10 THEN 'too_few_tokens' END,
                   CASE WHEN n_tokens > 100000 THEN 'too_many_tokens' END,
                   CASE WHEN mean_tok_len < 2.0 OR mean_tok_len > 12.0
                        THEN 'mean_tok_len' END,
                   CASE WHEN ttr < 0.2 THEN 'low_ttr' END,
                   CASE WHEN dup_bigram_frac > 0.55 THEN 'dup_bigrams' END,
                   CASE WHEN max_run > 6 THEN 'long_run' END)
                   AS failed_rules
               FROM j)
       SELECT doc_id, n_tokens, mean_tok_len, ttr, dup_bigram_frac,
              max_run, failed_rules = '' AS keep, failed_rules
       FROM f""",
    "Gopher-style repetition/format quality GATE (Rae et al. 2021 "
    "App. A1 — the rule family MassiveText/RefinedWeb/Dolma all "
    "re-implement; textops.gopher_rules): token-count bounds, mean "
    "token length bounds, type-token-ratio floor, duplicate-bigram "
    "occurrence-fraction ceiling, longest same-token-run ceiling — "
    "every metric, the keep flag, and the NAMES of failed rules per "
    "doc. The engine computes all five metrics with ZERO shuffles: "
    "run-length aggregate() scans over sorted gram/token arrays "
    "(the repetition_ratio pattern — O(n log n)/row, nothing "
    "re-inlines), where the oracle pays explode+groupBy and a "
    "gaps-and-islands window. Planted single-token-repeat docs fail "
    "low_ttr+dup_bigrams+long_run together.",
)
def q183(spark, sf_dir):
    from climate_data_pipelines_spark.functions.text import tokens as _toks

    docs = _t(spark, sf_dir, "documents")
    first = F.element_at(_toks("text"), 1)
    planted = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 940000).alias("doc_id"),
        F.trim(F.repeat(F.concat(first, F.lit(" ")), 30)).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(planted)
    return textops.gopher_rules(corpus)


# q184's planted domains: docs 0-29 re-appear under ONE mirror-farm
# host (messy case/www/port variants of the same domain) with texts
# drawn from just 5 originals (within-domain dup_rate 25/30), and
# docs 30-39 under junk scheme-less URLs (the '' domain row). The
# natural 20 src hosts profile clean and keep.
@query(
    "q184_domain_reputation",
    f"""WITH {_URL_FIXTURE_SQL},
         corpus AS (
           SELECT u.url, d.text FROM u JOIN documents d USING (doc_id)
           UNION ALL
           SELECT 'https://www.MirrorFarm.example.net:443/p/'
                    || CAST(d.doc_id % 5 AS VARCHAR),
                  d2.text
           FROM documents d JOIN documents d2 ON d2.doc_id = d.doc_id % 5
           WHERE d.doc_id < 30
           UNION ALL
           SELECT 'junkurl-' || CAST(doc_id AS VARCHAR), text
           FROM documents WHERE doc_id >= 30 AND doc_id < 40),
         n1 AS (SELECT text,
                  regexp_replace(trim(url), '#.*$', '') AS no_frag
                FROM corpus),
         n2 AS (SELECT text,
                  regexp_extract(no_frag,
                      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS scheme,
                  regexp_replace(no_frag,
                      '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS after
                FROM n1),
         n2b AS (SELECT *,
                   lower(regexp_replace(
                       regexp_extract(after, '^([^/?]+)', 1),
                       '^[^@]*@', '')) AS hostport
                 FROM n2),
         n3 AS (SELECT text,
                  CASE WHEN scheme = '' THEN ''
                       ELSE regexp_replace(
                              CASE WHEN lower(scheme) = 'http'
                                     THEN regexp_replace(hostport,
                                                         ':80$', '')
                                   WHEN lower(scheme) = 'https'
                                     THEN regexp_replace(hostport,
                                                         ':443$', '')
                                   ELSE hostport END,
                              '^www\\.', '') END AS domain
                FROM n2b),
         s AS (SELECT domain,
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm,
                 list_filter(string_split(text, ' '), x -> x != '') AS toks
               FROM n3),
         s2 AS (SELECT domain, norm, len(toks) AS n_tok,
                  CASE WHEN len(toks) >= 10
                        AND list_sum(list_transform(toks,
                              x -> CAST(length(x) AS DOUBLE))) / len(toks)
                            BETWEEN 2.0 AND 12.0
                        AND len(list_distinct(toks))
                            / CAST(len(toks) AS DOUBLE) >= 0.1
                       THEN 1 ELSE 0 END AS ok
                FROM s),
         prof AS (SELECT domain, COUNT(*) AS n_docs,
                    COUNT(DISTINCT norm) AS n_unique_docs,
                    ROUND((1.0 - COUNT(DISTINCT norm)
                           / CAST(COUNT(*) AS DOUBLE))
                          * 1000000) / 1000000 AS dup_rate,
                    ROUND(AVG(ok) * 1000000) / 1000000
                      AS quality_pass_rate,
                    ROUND(AVG(n_tok) * 1000000) / 1000000 AS avg_tokens
                  FROM s2 GROUP BY 1),
         f AS (SELECT *,
                 concat_ws(',',
                   CASE WHEN dup_rate > 0.5 THEN 'high_dup' END,
                   CASE WHEN quality_pass_rate < 0.25
                        THEN 'low_quality' END,
                   CASE WHEN domain = '' THEN 'bad_url' END)
                   AS failed_rules
               FROM prof)
       SELECT domain, n_docs, n_unique_docs, dup_rate,
              quality_pass_rate, avg_tokens,
              failed_rules = '' AS keep, failed_rules
       FROM f""",
    "Domain-level REPUTATION profile + gate (textops."
    "domain_reputation — the RefinedWeb/Dolma stage between URL dedup "
    "q175 and per-doc scoring: a spam farm dies once at its domain "
    "row, not a million times at its docs): per normalized host — "
    "url_host's codegen parse, junk URLs quarantined in the '' row — "
    "doc count, distinct-digest count, dup rate, quality pass-rate "
    "(the engine-wide quality_predicate), avg tokens, keep flag and "
    "failed-rule names. ONE aggregation keyed on the host (the "
    "distinct-count Expand carries 32-byte sha2 keys, never text); "
    "docs from flagged domains drop via one broadcast semi-join "
    "downstream. Planted mirror-farm (dup_rate 0.833) and junk-URL "
    "rows flag; the 20 natural src hosts keep.",
)
def q184(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    natural = docs.select(
        _messy_url(F.col("doc_id"), F.col("source")).alias("url"),
        F.col("text"),
    )
    d5 = docs.select(
        F.col("doc_id").alias("_k"), F.col("text").alias("_t5")
    ).filter(F.col("_k") < 5)
    mirror = (
        docs.filter(F.col("doc_id") < 30)
        .join(F.broadcast(d5), F.col("doc_id") % 5 == F.col("_k"))
        .select(
            F.concat(
                F.lit("https://www.MirrorFarm.example.net:443/p/"),
                (F.col("doc_id") % 5).cast("string"),
            ).alias("url"),
            F.col("_t5").alias("text"),
        )
    )
    junk = docs.filter(
        (F.col("doc_id") >= 30) & (F.col("doc_id") < 40)
    ).select(
        F.concat(F.lit("junkurl-"), F.col("doc_id").cast("string")).alias(
            "url"
        ),
        F.col("text"),
    )
    corpus = natural.unionByName(mirror).unionByName(junk)
    return textops.domain_reputation(corpus)


# q185's planted contamination: every benchmark doc with id < 100
# re-appears VERBATIM in the train corpus under source
# 'crawl_contam' (the eval-set-leaked-into-the-crawl case). The
# report must show that source at rate 1.0 and the natural sources
# at (deterministically) ~0.
@query(
    "q185_contamination_report",
    """WITH bench AS (SELECT doc_id, text FROM documents
                      WHERE source = 'src0' AND doc_id % 5 = 0),
         train AS (SELECT doc_id, text, source FROM documents
                   WHERE source != 'src0'
                   UNION ALL
                   SELECT doc_id + 980000, text, 'crawl_contam'
                   FROM bench WHERE doc_id < 100),
         bt AS (SELECT list_filter(string_split(text, ' '),
                                   x -> x != '') AS toks
                FROM bench),
         bsh AS (SELECT DISTINCT unnest(
                   CASE WHEN len(toks) >= 8
                        THEN [array_to_string(list_slice(toks, i, i + 7), ' ')
                              FOR i IN generate_series(1, len(toks) - 7)]
                        ELSE [array_to_string(toks, ' ')] END) AS shingle
                 FROM bt),
         tt AS (SELECT doc_id, source,
                  list_filter(string_split(text, ' '), x -> x != '') AS toks
                FROM train),
         tsh AS (SELECT doc_id, source, unnest(list_distinct(
                   CASE WHEN len(toks) >= 8
                        THEN [array_to_string(list_slice(toks, i, i + 7), ' ')
                              FOR i IN generate_series(1, len(toks) - 7)]
                        ELSE [array_to_string(toks, ' ')] END)) AS shingle
                 FROM tt),
         hitdocs AS (SELECT DISTINCT t.doc_id, t.source
                     FROM tsh t JOIN bsh b USING (shingle)),
         hits AS (SELECT source, COUNT(*) AS n_contaminated
                  FROM hitdocs GROUP BY 1),
         tot AS (SELECT source, COUNT(*) AS n_docs FROM train GROUP BY 1)
       SELECT tot.source, n_docs,
              COALESCE(n_contaminated, 0) AS n_contaminated,
              ROUND(COALESCE(n_contaminated, 0)
                    / CAST(n_docs AS DOUBLE) * 1000000) / 1000000
                AS contamination_rate
       FROM tot LEFT JOIN hits USING (source)""",
    "Per-source benchmark-CONTAMINATION report (GPT-3 App. C / "
    "PaLM-card style; training.contamination_report): for every train "
    "source, docs sharing >= 1 distinct 8-token shingle with the "
    "benchmark (src0's fixed stride slice), count and rate — the "
    "measurement a release ships even when it chooses NOT to remove "
    "(the removal stages are q139/q166). Benchmark shingles stay the "
    "small side (fixed eval set) and semi-join the exploded train "
    "shingles (AQE broadcasts; at 10^9-gram benchmarks swap in "
    "q139's Bloom position-set prefilter — same report, bounded "
    "broadcast); hit ids dedup as (id, source) pairs — never text — "
    "then ONE |sources|-row agg. Zero-hit sources keep their row: an "
    "auditor reads 0 as evidence, absence as a bug. Planted verbatim "
    "leaks report at rate 1.0.",
)
def q185(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(
        (F.col("source") == "src0") & (F.col("doc_id") % 5 == 0)
    ).select("doc_id", "text")
    planted = bench.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 980000).alias("doc_id"),
        F.col("text"),
        F.lit("crawl_contam").alias("source"),
    )
    train = (
        docs.filter(F.col("source") != "src0")
        .select("doc_id", "text", "source")
        .unionByName(planted)
    )
    return training.contamination_report(train, bench, k=8)


# q186's synthetic multi-line fixture (the parquet corpus is
# single-line word soup): tokens chunk into 7-word lines; every line
# whose (doc_id + chunk_index) % 3 != 0 gets terminal punctuation; a
# 'lorem ipsum…' line is prepended when doc_id%7==0 and a
# '{ javascript }' line appended when doc_id%11==0 — so every C4 rule
# (word count, terminal punct, blocklist) fires somewhere
# deterministically. Identical construction in both twins.
@query(
    "q186_c4_line_filter",
    """WITH tk AS (SELECT doc_id,
                     list_filter(string_split(text, ' '),
                                 x -> x != '') AS toks
                   FROM documents),
         corpus AS (SELECT doc_id,
                      concat_ws(chr(10),
                        CASE WHEN doc_id % 7 = 0
                             THEN 'lorem ipsum dolor sit amet consectetur.'
                             END,
                        array_to_string(
                          [array_to_string(list_slice(toks, i, i + 6), ' ')
                             || CASE WHEN (doc_id + (i - 1) // 7) % 3 != 0
                                     THEN '.' ELSE '' END
                           FOR i IN generate_series(1, len(toks), 7)],
                          chr(10)),
                        CASE WHEN doc_id % 11 = 0
                             THEN 'function foo() { javascript payload. }'
                             END) AS text
                    FROM tk),
         lns AS (SELECT doc_id, string_split(text, chr(10)) AS ls
                 FROM corpus),
         f AS (SELECT doc_id, len(ls) AS n_lines,
                 list_filter(ls, l ->
                   len(list_filter(string_split_regex(l, '\\s+'),
                                   w -> w != '')) >= 5
                   AND regexp_matches(l, '[.!?"]$')
                   AND NOT contains(lower(l), 'lorem ipsum')
                   AND NOT contains(lower(l), 'javascript')
                   AND NOT contains(lower(l), '{')) AS kept
               FROM lns)
       SELECT doc_id, n_lines,
              len(kept) AS n_kept_lines,
              coalesce(array_to_string(kept, chr(10)), '') AS text_clean,
              len(kept) >= 3 AS keep
       FROM f""",
    "C4-style LINE cleaning (Raffel et al. 2020 §2.2; textops."
    "c4_line_filter — the scrub T5's corpus and every successor "
    "applies before doc-level scoring): keep lines ending in terminal "
    "punctuation with >= 5 words and no blocklist marker "
    "('lorem ipsum'/'javascript'/'{'), then drop docs left with < 3 "
    "kept lines; emits cleaned text + line counts + keep. ZERO "
    "shuffles — split on newline, ONE filter() lambda over the line "
    "array, array_join back; a 100 TB crawl pays one scan. The "
    "fixture synthesizes deterministic multi-line text (7-word "
    "chunks, punctuation by (doc_id+chunk)%3, planted lorem/js "
    "lines) so all three rules fire; the oracle replays the chunking "
    "and the lambda in DuckDB list_filter.",
)
def q186(spark, sf_dir):
    from climate_data_pipelines_spark.functions.text import tokens as _toks

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    toks = _toks("text")
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.size(toks), F.lit(7)),
            lambda s, j: F.concat(
                F.concat_ws(" ", F.slice(toks, s, 7)),
                F.when((did + j) % 3 != 0, F.lit(".")).otherwise(F.lit("")),
            ),
        ),
        "\n",
    )
    multi = F.concat_ws(
        "\n",
        F.when(
            did % 7 == 0,
            F.lit("lorem ipsum dolor sit amet consectetur."),
        ),
        body,
        F.when(
            did % 11 == 0,
            F.lit("function foo() { javascript payload. }"),
        ),
    )
    corpus = docs.select(did, multi.alias("text"))
    return textops.c4_line_filter(corpus)


@query(
    "q187_kmeans_mix",
    None,
    "Cluster-balanced semantic mixing (rows-only: iterative Lloyd "
    "k-means has no DuckDB twin): distributed k-means over the "
    "embedding corpus — Arrow-batched matmul+argmin assignment, one "
    "(cluster, dim)-keyed hash aggregate per round, k*dim floats of "
    "driver traffic — then keep up to ceil(2n/k) members per cluster "
    "by centrality (the SemDeDup cluster-then-prune shape; the "
    "semantic twin of the q142 domain cap). Replay invariant: Lloyd "
    "inertia non-increasing + every cluster within the cap + "
    "assignment parity vs a driver-side numpy reference (pytest).",
)
def q187(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.cluster_balanced_mix(emb, k=16, iters=6)
    return out.select(
        "vec_id", "cluster", oround("d2", 6).alias("d2"), "cluster_n"
    )


@query(
    "q188_pca_project",
    None,
    "Distributed PCA fit + projection over the embedding corpus "
    "(rows-only: eigendecomposition has no DuckDB twin): a mapInPandas "
    "kernel reduces each partition to (n, sum, gram) sufficient "
    "statistics — ONE corpus pass, zero shuffles of vector data, "
    "dim^2 floats of driver state — numpy eigh on the driver, then an "
    "Arrow matmul projection. Replay invariant: exact parity vs a "
    "driver-side numpy PCA (components, explained variance, "
    "projections) + descending explained-variance order (pytest + "
    "invariants.py).",
)
def q188(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    comps, mean, _ = similarity.pca_fit(emb, n_components=8)
    out = similarity.pca_project(emb, comps, mean)
    # micro-unit string join: the driver canonicalizer can't hash list
    # cells (the q113 lesson), and this keeps the output replay-stable
    return out.select(
        "vec_id",
        F.array_join(
            F.transform(
                "pca", lambda x: F.round(x * 1e6).cast("long").cast("string")
            ),
            ",",
        ).alias("pca_micro"),
    ).filter(F.col("pca_micro").isNotNull())


@query(
    "q189_context_packing",
    """WITH toks AS (SELECT doc_id,
                       len(list_filter(string_split(text, ' '), x -> x != ''))
                         AS n_tok
                     FROM documents),
         c AS (SELECT doc_id, n_tok,
                 COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS excl
               FROM toks WHERE n_tok > 0),
         x AS (SELECT doc_id, n_tok, excl,
                 UNNEST(generate_series(
                   CAST(FLOOR(excl / 2048.0) AS BIGINT),
                   CAST(FLOOR((excl + n_tok - 1) / 2048.0) AS BIGINT))) AS seq
               FROM c)
       SELECT doc_id, seq,
              CAST(GREATEST(excl, seq*2048) - excl AS BIGINT) AS doc_offset,
              CAST(GREATEST(excl, seq*2048) - seq*2048 AS BIGINT)
                AS seq_offset,
              CAST(LEAST(excl + n_tok, (seq+1)*2048)
                   - GREATEST(excl, seq*2048) AS BIGINT) AS n_tok_piece
       FROM x""",
    "Context-window packing with document spanning (the GPT/T5 "
    "concatenate-and-split pretraining convention): the corpus is one "
    "global token stream in doc-id order, cut every 2048 tokens; a "
    "boundary-straddling doc contributes a piece to EACH sequence it "
    "spans, so every sequence is exactly full (zero padding). Engine "
    "plan: the q171 hierarchical prefix sum (no global ordered "
    "window) + a pure-expression explode(sequence(s0,s1)) span "
    "fan-out — the text never moves past the tokenize pass. Oracle "
    "is the naive global-window twin with unnest(generate_series).",
)
def q189(spark, sf_dir):
    return training.pack_contexts(
        _t(spark, sf_dir, "documents"), ctx_len=2048
    )


@query(
    "q190_sequence_manifest",
    """WITH toks AS (SELECT doc_id,
                       len(list_filter(string_split(text, ' '), x -> x != ''))
                         AS n_tok
                     FROM documents),
         c AS (SELECT doc_id, n_tok,
                 COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS excl
               FROM toks WHERE n_tok > 0),
         x AS (SELECT doc_id, n_tok, excl,
                 UNNEST(generate_series(
                   CAST(FLOOR(excl / 2048.0) AS BIGINT),
                   CAST(FLOOR((excl + n_tok - 1) / 2048.0) AS BIGINT))) AS seq
               FROM c),
         p AS (SELECT doc_id, seq,
                 CAST(GREATEST(excl, seq*2048) - seq*2048 AS BIGINT)
                   AS seq_offset,
                 CAST(LEAST(excl + n_tok, (seq+1)*2048)
                      - GREATEST(excl, seq*2048) AS BIGINT) AS n_tok_piece
               FROM x)
       SELECT seq, COUNT(*) AS n_pieces,
              CAST(SUM(n_tok_piece) AS BIGINT) AS seq_tokens,
              STRING_AGG(seq_offset || ':' || doc_id, ','
                         ORDER BY seq_offset) AS boundaries
       FROM p GROUP BY seq""",
    "Per-sequence boundary manifest over the q189 packing — the row "
    "the trainer's dataloader consumes: piece count, token fill, and "
    "the ordered seq_offset:doc_id boundary list that drives "
    "cross-document attention masking in packed batches. ONE "
    "seq-keyed exchange of 24-byte piece rows; the per-sequence "
    "collect_list is bounded by pieces-per-sequence (<= ctx_len), "
    "never corpus-sized; boundaries serialize to an ordered string "
    "(list cells are not oracle-hashable — the q113 lesson).",
)
def q190(spark, sf_dir):
    return training.sequence_manifest(
        training.pack_contexts(_t(spark, sf_dir, "documents"), ctx_len=2048)
    )


@query(
    "q191_leakage_safe_split",
    f"""WITH RECURSIVE{_minhash_ctes()},
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         common AS (SELECT e.id_a, e.id_b, COUNT(*) AS n_common
                    FROM edges e
                    JOIN sh a ON a.doc_id = e.id_a
                    JOIN sh b ON b.doc_id = e.id_b AND b.shingle = a.shingle
                    GROUP BY 1, 2),
         ver AS (SELECT c.id_a, c.id_b
                 FROM common c
                 JOIN sizes sa ON sa.doc_id = c.id_a
                 JOIN sizes sb ON sb.doc_id = c.id_b
                 WHERE CAST(n_common AS DOUBLE)
                       / (sa.n_sh + sb.n_sh - n_common) >= 0.5),
         sym AS (SELECT id_a AS a, id_b AS b FROM ver
                 UNION SELECT id_b, id_a FROM ver),
         reach(src, node) AS (
             SELECT doc_id, doc_id FROM documents
           UNION
             SELECT r.src, s.b FROM reach r JOIN sym s ON r.node = s.a
         ),
         comp AS (SELECT src AS doc_id, MIN(node) AS component
                  FROM reach GROUP BY src)
       SELECT doc_id, component,
              CAST(CAST('0x' || substring(md5('split-v1' || CAST(component AS VARCHAR)), 1, 15)
                        AS BIGINT) % 100 AS BIGINT) AS bucket,
              CASE WHEN CAST('0x' || substring(md5('split-v1' || CAST(component AS VARCHAR)), 1, 15)
                        AS BIGINT) % 100 < 80 THEN 'train'
                   WHEN CAST('0x' || substring(md5('split-v1' || CAST(component AS VARCHAR)), 1, 15)
                        AS BIGINT) % 100 < 90 THEN 'val'
                   ELSE 'test' END AS split
       FROM comp""",
    "Leakage-safe train/val/test split: the q122 verified near-dup "
    "clusters (LSH candidates → exact-Jaccard verify → connected "
    "components) elect one representative per cluster, and the split "
    "hashes the REPRESENTATIVE — near-duplicate documents always land "
    "in the same split, closing the per-doc hash_split's eval-leakage "
    "hole (train/eval near-dup overlap inflates benchmark scores; "
    "Lee et al. 2022 §6.2). Stateless md5 over the component id — "
    "zero shuffles beyond the clustering itself; a representative "
    "change under growth re-hashes the whole merged cluster to ONE "
    "split together (see the operator docstring's growth semantics). "
    "Oracle replays the identical verified-CC fixpoint "
    "(recursive CTE) and the identical md5 bucket expression.",
)
def q191(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, k=3, n_hashes=MINHASH_N)
    cand = dedup.minhash_lsh_candidates(
        sigs, n_hashes=MINHASH_N, bands=MINHASH_BANDS
    ).localCheckpoint(eager=True)  # referenced twice by the verify stage
    ver = (
        dedup.jaccard_on_pairs(docs, cand, k=3)
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b")
    )
    comp = dedup.connected_components(
        ver, nodes=docs.select("doc_id"), node_col="doc_id"
    )
    return training.leakage_safe_split(comp).select(
        "doc_id", "component", "bucket", "split"
    )


@query(
    "q192_length_bucket_batches",
    """WITH n AS (SELECT doc_id,
                    len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tok
                  FROM documents),
         nb AS (SELECT doc_id, n_tok,
                  CAST(ceil(log2(n_tok)) AS BIGINT) AS len_bucket
                FROM n WHERE n_tok > 0),
         r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY len_bucket
                                            ORDER BY doc_id) AS rn
               FROM nb),
         b AS (SELECT len_bucket,
                 CAST(floor((rn - 1) / 8.0) AS BIGINT) AS batch, n_tok
               FROM r)
       SELECT len_bucket, batch, COUNT(*) AS n_docs,
              MAX(n_tok) AS max_tok,
              CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
              ROUND((COUNT(*) * MAX(n_tok) - SUM(n_tok)) * 1000000.0
                    / (COUNT(*) * MAX(n_tok))) / 1000000.0 AS padding_frac
       FROM b GROUP BY 1, 2""",
    "Length-bucketed batch manifest (dynamic-batching prep for "
    "inference/eval dataloaders): docs bucketed by ceil(log2(tokens)) "
    "so batches hold similar-length members, tiled into batches of 8 "
    "in id order; one row per batch with the padding fraction a "
    "rectangular batch pays — padding is wasted FLOPs, bucketing is "
    "the standard fix. NO corpus-sized ordered window: in-bucket rank "
    "is hierarchical (per-(bucket, id-block) counts + tiny offset "
    "window + row_number within blocks — the q171 pattern); the "
    "oracle is the naive per-bucket global-window twin.",
)
def q192(spark, sf_dir):
    return training.length_bucket_batches(
        _t(spark, sf_dir, "documents"), batch_size=8
    )


# ---------------------------------------------------------------------------
# Driver correctness-window selection
# ---------------------------------------------------------------------------
#
# The verification driver checks the FIRST 50 entries of
# ``__spark_entry__.queries()`` (dict insertion order);
# ``__spark_entry__`` orders its returned dicts by DRIVER_WINDOW.
# REGISTRY itself stays in definition order, so registry iteration
# order is not load-bearing hidden state. The window's rule, pinned by
# tests/test_scale_discipline.py::test_driver_window_covers_priority_queries:
#
# - exactly 50 distinct registry names;
# - never-driver-checked queries lead, then the stalest driver rows;
# - 9 or fewer rows-only (oracle-less) slots, so oracle-checked slots
#   stay the majority.
#
# Queries outside the window stay regression-covered by
# tools/check_oracle.py over all entries (tests run the same
# differential).
DRIVER_WINDOW: list[str] = [
    # (a) the two never-driver-checked leads (r12 additions; q189's
    # plan re-touched this round: DIV bucketing + twin delegation)
    "q189_context_packing",
    "q190_sequence_manifest",
    # (b) the complete r9-only stale cohort, registry order
    "q42_simhash",
    "q60_percentiles",
    "q61_unpivot",
    "q62_pivot",
    "q92_land_mask_grid",
    "q123_simhash_fingerprints",
    "q129_minhash64_candidates",
    "q132_repeated_spans",
    "q134_strip_spans",
    "q135_mvt_tiles",
    "q136_edit_distance_verify",
    "q137_sessionize",
    "q138_stratified_sample",
    "q139_bloom_decontaminate",
    "q142_domain_cap",
    "q143_quality_calibrate",
    "q144_audio_features",
    "q145_funnel",
    "q146_retention",
    "q147_gap_fill",
    "q148_event_paths",
    "q149_value_outliers",
    "q150_bm25_topk",
    "q152_gap_interpolate",
    "q153_robust_outliers",
    "q154_scd2_intervals",
    "q155_jpeg_features",
    "q157_video_features",
    "q158_frame_sample",
    "q159_weighted_sample",
    "q160_heavy_hitters",
    "q173_quality_classifier",
    "q174_warc_ingest",
    "q176_containment_neardup",
    "q178_simhash_capped_candidates",
    "q179_small_in_large_containment",
    "q182_cross_source_overlap",
    "q185_contamination_report",
    # (c) ten r10-cohort fillers (next-stalest cohort, lowest risk:
    # expression-only full-oracle suites)
    "q63_string_suite",
    "q64_math_suite",
    "q65_conditional_suite",
    "q66_array_suite",
    "q77_grouping_sets",
    "q78_exists_subquery",
    "q79_scalar_subquery",
    "q93_try_functions",
    "q97_string_agg",
    "q98_histogram",
]


def driver_ordered_names() -> list[str]:
    """Registry names with DRIVER_WINDOW first (window order), then the
    rest in definition order — the order ``__spark_entry__`` exports."""
    window = [n for n in DRIVER_WINDOW if n in REGISTRY]
    rest = [n for n in REGISTRY if n not in set(window)]
    return window + rest
