"""Oracle-checked query registry — the driver contract surface.

Each entry pairs a Spark query (``(spark, sf_dir) -> DataFrame``) with an
equivalent ANSI-SQL oracle that DuckDB runs on the same parquet tables
(SURVEY.md §5 item 5, FIXTURES.md §4). Column names and types are aligned
on both sides because the driver hashes values after sorting columns by
name.

Cuckoo-filter queries exercise the reference's command surface end-to-end
on real Spark: the oracles are EXACT because the checked semantics are the
deterministic guarantees (no false negatives; exact fpcount arithmetic;
FP32's ~9.3e-10 bound makes false positives unobservable at test scale —
verified deterministic here, not merely probable).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sketchlib.kernels.cuckoo import capacity, size_for, size_for_exactly
from sketchlib.spark.cuckoo import (
    CuckooSpec,
    ShardedCuckoo,
    build_filter_direct,
    probe,
    remove_keys,
)

#: name -> (query_fn, oracle_sql | None). Registered by module import.
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def register(name: str, oracle: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _doc_key():
    return F.col("doc_id").cast("string")


def _build_docs_filter(spark, sf_dir, fpsize: int, num_shards: int = 2):
    """Size the filter from the actual row count (CF.SIZEFOR semantics) so
    the cf_* queries are sf-proof: size_for pads by 20% then pow2-ceils,
    keeping fill ≤ ~60% at any scale factor (one extra count job on a
    doc_id-pruned scan — negligible)."""
    docs = _docs(spark, sf_dir)
    n = docs.count()
    # per-SHARD size sized for the FULL count: shards split rows by hash, so
    # each holds ~n/num_shards — sizing every shard for n absorbs any skew
    # at test scale for a few KiB (size is per shard)
    size = max(size_for(max(n, 1), fpsize), 1024)
    spec = CuckooSpec(name=f"docs-fp{fpsize * 8}", size=size, fpsize=fpsize, num_shards=num_shards)
    merged = build_filter_direct(docs, spec, key=_doc_key())
    return docs, spec, merged


# --------------------------------------------------------------- queries


@register(
    "cf_membership_inserted",
    "SELECT doc_id FROM documents",
)
def cf_membership_inserted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CF.ADD + CF.CHECK: every inserted key must probe positive (the
    no-false-negative guarantee, reference lib:110-123). Probe ≡ left-semi
    join oracle."""
    docs, spec, merged = _build_docs_filter(spark, sf_dir, fpsize=2)
    sc = ShardedCuckoo.from_df(merged, spec)
    return probe(docs.select("doc_id"), sc, key=_doc_key()).filter(F.col("member")).select("doc_id")


@register(
    "cf_count_add_remove",
    "SELECT (SELECT COUNT(*) FROM documents) - "
    "(SELECT COUNT(*) FROM documents WHERE lang = 'en') AS n",
)
def cf_count_add_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CF.COUNT after adds and exact deletions: fpcount is exact multiset
    arithmetic (reference lib:106-108; oracle = COUNT of adds EXCEPT ALL
    removes)."""
    docs, spec, merged = _build_docs_filter(spark, sf_dir, fpsize=2)
    en = docs.filter(F.col("lang") == "en")
    removed = remove_keys(merged, en, spec, key=_doc_key())
    return removed.agg(F.sum("fpcount").alias("n"))


@register(
    "cf_probe_after_remove_fp32",
    # multiset-true: a duplicate doc_id inserts once per ROW and the 'en'
    # rows remove once each, so an id stays member iff it has ANY non-en
    # row — and the probe answers once per PROBE row (fuzz finding; on
    # unique ids this reduces to WHERE lang <> 'en')
    # IS DISTINCT FROM: a NULL-lang row is NOT removed by the Spark-side
    # lang == 'en' filter, so it must count as a surviving row here too
    "SELECT d.doc_id FROM documents d WHERE d.doc_id IN "
    "(SELECT doc_id FROM documents WHERE lang IS DISTINCT FROM 'en')",
)
def cf_probe_after_remove_fp32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-deletion correctness end-to-end at FP32: remove the 'en' docs,
    re-probe everything — survivors all hit (no false negatives), removed
    keys all miss (FP32 false-positive rate ~9.3e-10 → deterministically
    zero at this scale)."""
    docs, spec, merged = _build_docs_filter(spark, sf_dir, fpsize=4)
    en = docs.filter(F.col("lang") == "en")
    removed = remove_keys(merged, en, spec, key=_doc_key())
    sc = ShardedCuckoo.from_df(removed, spec)
    return probe(docs.select("doc_id"), sc, key=_doc_key()).filter(F.col("member")).select("doc_id")


@register(
    "cf_heldout_zero_fp32",
    "SELECT CAST(0 AS BIGINT) AS fp_hits",
)
def cf_heldout_zero_fp32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out membership at FP32: keys never inserted probe negative
    (observed FP count is the measurement; at the FP32 bound it is
    deterministically 0 for this data)."""
    docs, spec, merged = _build_docs_filter(spark, sf_dir, fpsize=4)
    sc = ShardedCuckoo.from_df(merged, spec)
    held = _docs(spark, sf_dir).select(
        (F.col("doc_id") + F.lit(10_000_000)).cast("string").alias("k")
    )
    return probe(held, sc, key="k").agg(
        F.sum(F.col("member").cast("long")).alias("fp_hits")
    )


_SIZING_POINTS = [(100, 1), (100, 2), (100, 4), (1000, 2), (1024, 2), (4096, 4), (60000, 1), (60000, 2)]

_SIZING_ORACLE = (
    "WITH pts(n, fpsize) AS (VALUES "
    + ", ".join(f"({n}, {s})" for n, s in _SIZING_POINTS)
    + "), "
    "c AS (SELECT CAST(n AS BIGINT) AS n, CAST(fpsize AS BIGINT) AS fpsize, "
    "  CAST(CASE fpsize WHEN 4 THEN 2 ELSE 4 END AS BIGINT) AS bucksize FROM pts), "
    "f AS (SELECT *, fpsize * bucksize * 2 AS minsize, "
    "  n + CAST(FLOOR(n / 5.0) AS BIGINT) AS padded FROM c) "
    "SELECT n, fpsize, "
    "  GREATEST(minsize, fpsize * CAST(POWER(2, CEIL(LOG2(n))) AS BIGINT)) AS size_exact, "
    "  GREATEST(minsize, fpsize * CAST(POWER(2, CEIL(LOG2(padded))) AS BIGINT)) AS size_padded, "
    "  GREATEST(minsize, fpsize * CAST(POWER(2, CEIL(LOG2(padded))) AS BIGINT)) // fpsize AS cap "
    "FROM f"
)


@register("cf_sizing_math", _SIZING_ORACLE)
def cf_sizing_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CF.CAPACITY / CF.SIZEFOR (reference redis-cuckoofilter.zig:417-487,
    math at lib:70-83): sizing arithmetic cross-checked against an
    independent SQL formulation (pow2-ceil via LOG2/CEIL)."""
    rows = [
        (
            n,
            fpsize,
            size_for_exactly(n, fpsize),
            size_for(n, fpsize),
            capacity(size_for(n, fpsize), fpsize),
        )
        for n, fpsize in _SIZING_POINTS
    ]
    return spark.createDataFrame(
        rows, "n long, fpsize long, size_exact long, size_padded long, cap long"
    )


@register(
    "lineitem_pricing_summary",
    "SELECT l_returnflag, l_linestatus, "
    "  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, "
    "  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price, "
    "  COUNT(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= DATE '1998-09-02' "
    "GROUP BY l_returnflag, l_linestatus",
)
def lineitem_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational built-ins demo (SURVEY.md §2.6-2.10: scans, filters,
    aggregations are Catalyst built-ins). Decimal-exact sums cast back to
    double so both engines hash identical values."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_base_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "cf_probe_cogrouped",
    "SELECT doc_id FROM documents",
)
def cf_probe_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CF.CHECK via the co-grouped (no-broadcast) path — the scale route for
    filters too large to ship to every executor. Same no-false-negative
    oracle as the broadcast probe."""
    from sketchlib.spark.cuckoo import probe_cogrouped

    docs, spec, merged = _build_docs_filter(spark, sf_dir, fpsize=2)
    out = probe_cogrouped(merged, docs.select("doc_id"), spec, key=_doc_key())
    return out.filter(F.col("member")).select("doc_id")


@register(
    "cf_probe_auto_lowlimit",
    "SELECT doc_id FROM documents",
)
def cf_probe_auto_lowlimit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CF.CHECK via probe_auto with a deliberately tiny broadcast budget
    (1 byte), forcing the strategy chooser down the co-grouped branch —
    pins the auto-dispatch itself in the gate, not just the two probe
    implementations it chooses between."""
    from sketchlib.spark.cuckoo import probe_auto

    docs, spec, merged = _build_docs_filter(spark, sf_dir, fpsize=2)
    out = probe_auto(
        merged, docs.select("doc_id"), spec, key=_doc_key(), broadcast_limit_bytes=1
    )
    return out.filter(F.col("member")).select("doc_id")


@register(
    "cf_flags_after_misuse",
    "SELECT TRUE AS broken_after_bad_delete, TRUE AS toofull_after_overfill, "
    "TRUE AS fixed_after_remove",
)
def cf_flags_after_misuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CF.ISBROKEN / CF.ISTOOFULL / CF.FIXTOOFULL end-to-end (reference
    semantics: bad delete poisons; overfill sets toofull; fix re-homes after
    space is freed)."""
    from sketchlib.spark.cuckoo import ShardedCuckoo, fix_toofull_shards, remove_keys

    docs, spec, merged = _build_docs_filter(spark, sf_dir, fpsize=2, num_shards=1)
    ghosts = spark.range(3).select((F.col("id") + 77_000_000).cast("string").alias("k"))
    broken = ShardedCuckoo.from_df(remove_keys(merged, ghosts, spec, key="k"), spec).is_broken()

    # overfill a tiny filter → toofull; remove some → fix succeeds
    tiny = CuckooSpec(name="tiny-flags", size=64, fpsize=2, num_shards=1)  # 32 slots
    keys = spark.range(40).select(F.col("id").cast("string").alias("k"))
    m = build_filter_direct(keys, tiny, key="k")
    sc = ShardedCuckoo.from_df(m, tiny)
    toofull = sc.is_toofull()
    # only remove keys that are actually stored — removing one of the keys
    # dropped during overfill would poison the filter (reference semantics)
    present = (
        probe(keys, sc, key="k")
        .filter(F.col("member"))
        .select("k")
        .orderBy(F.col("k").cast("long"))  # deterministic choice of freed keys
        .limit(10)
    )
    freed = remove_keys(m, present, tiny, key="k")
    fixed = not ShardedCuckoo.from_df(fix_toofull_shards(freed), tiny).is_toofull()
    return spark.createDataFrame(
        [(bool(broken), bool(toofull), bool(fixed))],
        "broken_after_bad_delete boolean, toofull_after_overfill boolean, fixed_after_remove boolean",
    )


@register(
    "source_counts_salted",
    "SELECT source, COUNT(*) AS n FROM documents GROUP BY source",
)
def source_counts_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (SURVEY.md §4 custom work #1): count
    per key with heavy keys split across salts, then recombined — identical
    results to a plain GROUP BY (the oracle)."""
    from sketchlib.pipeline import heavy_keys, salted_repartition

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    heavy = heavy_keys(docs, "source", top_fraction=0.05)
    salted = salted_repartition(
        docs, "source", 8, heavy, salt_buckets=4, salt_source=F.col("doc_id").cast("string")
    )
    partial = salted.groupBy("source", "_salt").agg(F.count(F.lit(1)).alias("c"))
    return partial.groupBy("source").agg(F.sum("c").alias("n"))


# ------------------------------------------------- sibling sketches


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


@register(
    "bloom_membership_docs",
    "SELECT doc_id FROM documents",
)
def bloom_membership_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom no-false-negative guarantee: every inserted key probes positive
    (the deletable-cuckoo's sibling; oracle = identity on inserted keys)."""
    from sketchlib.kernels.bloom import optimal_params
    from sketchlib.spark.agg import SketchSpec, bloom_probe, build_sketch

    docs = _docs(spark, sf_dir)
    spec = SketchSpec("q-bloom-docs", "bloom", optimal_params(10_000, 0.001))
    bf = build_sketch(docs, spec, _doc_key())
    return (
        bloom_probe(docs.select("doc_id"), bf, _doc_key())
        .filter(F.col("member"))
        .select("doc_id")
    )


@register(
    "hll_distinct_users",
    "SELECT COUNT(DISTINCT user_id) AS exact_distinct, TRUE AS within_bound FROM events",
)
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL cardinality vs exact COUNT(DISTINCT): the sketch estimate must
    land within the published 1.04/√m relative error (×3 margin). The query
    returns the exact count AND the bound check so the oracle verifies both
    the plumbing and the estimator."""
    import numpy as np

    from sketchlib.spark.agg import SketchSpec, build_sketch

    ev = _events(spark, sf_dir)
    hll = build_sketch(ev, SketchSpec("q-hll-users", "hll", (14,)), "user_id")
    exact = ev.select(F.countDistinct("user_id").alias("d")).first()["d"]
    ok = abs(hll.estimate() - exact) / max(exact, 1) <= 3 * 1.04 / np.sqrt(hll.m) + 0.01
    return spark.createDataFrame([(exact, bool(ok))], "exact_distinct long, within_bound boolean")


@register(
    "cms_event_type_counts",
    # hash-fed sketches ignore NULL keys (COUNT(DISTINCT) semantics), so
    # the truth table excludes the NULL-type group too
    "SELECT event_type, COUNT(*) AS exact_n, TRUE AS est_ok "
    "FROM events WHERE event_type IS NOT NULL GROUP BY event_type",
)
def cms_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min point queries vs exact GROUP BY counts: est ≥ truth and
    est ≤ truth + ε·N (Cormode-Muthukrishnan guarantee, FIXTURES.md §4)."""
    import numpy as np

    from sketchlib.spark.agg import SketchSpec, build_sketch

    ev = _events(spark, sf_dir)
    cms = build_sketch(ev, SketchSpec("q-cms-types", "cms", (2048, 5)), "event_type")
    truth = (
        ev.filter(F.col("event_type").isNotNull())
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("exact_n"), F.first(F.xxhash64("event_type")).alias("h"))
        .collect()
    )
    hashes = np.array([r["h"] for r in truth], dtype=np.int64).view(np.uint64)
    est = cms.query_hashes(hashes)
    rows = [
        (r["event_type"], r["exact_n"],
         bool(e >= r["exact_n"] and e <= r["exact_n"] + cms.eps * cms.total + 1))
        for r, e in zip(truth, est.tolist())
    ]
    return spark.createDataFrame(rows, "event_type string, exact_n long, est_ok boolean")


@register(
    "hll_user_overlap",
    "SELECT "
    "(SELECT COUNT(DISTINCT user_id) FROM events WHERE event_type = 'click') AS exact_a, "
    "(SELECT COUNT(DISTINCT user_id) FROM events WHERE event_type = 'purchase') AS exact_b, "
    "(SELECT COUNT(DISTINCT user_id) FROM events WHERE event_type IN ('click','purchase')) AS exact_union, "
    "TRUE AS union_ok, TRUE AS inter_ok",
)
def hll_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA: the mergeable-aggregator payoff — |A∪B| is a
    LOSSLESS HLL merge (never re-scan either side), |A∩B| falls out by
    inclusion-exclusion. Estimates checked against exact distinct counts
    within the compounded 1.04/√m bounds."""
    import numpy as np

    from sketchlib.kernels.hll import HyperLogLog
    from sketchlib.spark.agg import SketchSpec, build_sketch

    ev = _events(spark, sf_dir)
    a = build_sketch(ev.filter("event_type = 'click'"), SketchSpec("ov-a", "hll", (14,)), "user_id")
    b = build_sketch(ev.filter("event_type = 'purchase'"), SketchSpec("ov-b", "hll", (14,)), "user_id")
    u = HyperLogLog.merge([a, b])
    row = ev.agg(
        F.countDistinct(F.when(F.col("event_type") == "click", F.col("user_id"))).alias("ea"),
        F.countDistinct(F.when(F.col("event_type") == "purchase", F.col("user_id"))).alias("eb"),
        F.countDistinct(
            F.when(F.col("event_type").isin("click", "purchase"), F.col("user_id"))
        ).alias("eu"),
    ).first()
    sigma = 3 * 1.04 / np.sqrt(a.m)
    union_ok = abs(u.estimate() - row["eu"]) <= sigma * row["eu"] + 1
    inter_est = a.estimate() + b.estimate() - u.estimate()
    exact_inter = row["ea"] + row["eb"] - row["eu"]
    inter_ok = abs(inter_est - exact_inter) <= sigma * (row["ea"] + row["eb"] + row["eu"]) + 2
    return spark.createDataFrame(
        [(row["ea"], row["eb"], row["eu"], bool(union_ok), bool(inter_ok))],
        "exact_a long, exact_b long, exact_union long, union_ok boolean, inter_ok boolean",
    )


_QUANTILES = [("p10", 0.1), ("p25", 0.25), ("p50", 0.5), ("p75", 0.75), ("p90", 0.9), ("p99", 0.99)]
_Q_ORACLE = " UNION ALL ".join(f"SELECT '{lbl}' AS qlabel, TRUE AS rank_ok" for lbl, _ in _QUANTILES)


def _quantile_query(kind: str, params: tuple, eps: float):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from sketchlib.spark.agg import SketchSpec, build_sketch, finite_values

        # the sketch contract excludes NULL/NaN/Inf values; the exact rank
        # check must run over the same finite population
        ev = _events(spark, sf_dir).filter(finite_values("value"))
        sk = build_sketch(ev, SketchSpec(f"q-{kind}-val", kind, params), "value")
        n = ev.count()
        if n == 0:  # empty finite population: rank checks hold vacuously
            return spark.createDataFrame(
                [(lbl, True) for lbl, _ in _QUANTILES], "qlabel string, rank_ok boolean"
            )
        ests = {lbl: sk.quantile(q) for lbl, q in _QUANTILES}
        # the estimate's exact rank INTERVAL [rank(<est), rank(<=est)],
        # computed in-plan in one pass: on tied/discrete data a single
        # value can span more mass than eps, so the correct acceptance is
        # "target quantile falls in the interval (±eps)", which reduces to
        # the plain |rank−q|≤eps check when values are distinct
        ranks = ev.agg(
            *[
                (F.sum((F.col("value") < F.lit(est)).cast("long")) / n).alias(f"{lbl}_lt")
                for lbl, est in ests.items()
            ],
            *[
                (F.sum((F.col("value") <= F.lit(est)).cast("long")) / n).alias(f"{lbl}_le")
                for lbl, est in ests.items()
            ],
        ).first()
        rows = [
            (lbl, bool(ranks[f"{lbl}_lt"] - eps <= q <= ranks[f"{lbl}_le"] + eps))
            for lbl, q in _QUANTILES
        ]
        return spark.createDataFrame(rows, "qlabel string, rank_ok boolean")

    return fn


register("kll_value_quantiles", _Q_ORACLE)(_quantile_query("kll", (256,), eps=0.025))
register("tdigest_value_quantiles", _Q_ORACLE)(_quantile_query("tdigest", (200,), eps=0.02))


@register(
    "top_customers_by_revenue",
    "WITH rev AS ("
    "  SELECT o.o_custkey, CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,"
    "         COUNT(*) AS n_orders"
    "  FROM orders o GROUP BY o.o_custkey) "
    "SELECT c.c_custkey, c.c_mktsegment, r.revenue, r.n_orders FROM rev r "
    "JOIN customer c ON c.c_custkey = r.o_custkey "
    "QUALIFY ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment ORDER BY r.revenue DESC, c.c_custkey) <= 3",
)
def top_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational built-ins demo: aggregation → broadcast join → window
    top-k per group (SURVEY.md §2.6-2.10 joins/windows/top-k rows)."""
    from pyspark.sql import Window as W

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    joined = rev.join(
        F.broadcast(customer), rev.o_custkey == customer.c_custkey, "inner"
    )
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("revenue"), F.col("c_custkey"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_custkey", "c_mktsegment", "revenue", "n_orders")
    )


@register(
    "segment_shipping_revenue",
    "SELECT c.c_mktsegment, o.o_orderpriority, "
    "  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * "
    "           (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue, "
    "  COUNT(*) AS n_lines "
    "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
    "JOIN customer c ON o.o_custkey = c.c_custkey "
    "WHERE l.l_shipdate > DATE '1995-03-15' "
    "GROUP BY c.c_mktsegment, o.o_orderpriority",
)
def segment_shipping_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way join (fact chain shuffled, customer dim broadcast) +
    filtered aggregation — TPC-H-Q3-shaped relational breadth (SURVEY.md
    §2.6)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    d = F.col("l_discount").cast("decimal(18,4)")
    p = F.col("l_extendedprice").cast("decimal(18,4)")
    # orders is fact-scale (grows with lineitem): no broadcast hint — the
    # lineitem⋈orders join shuffles on the key (AQE converts to broadcast
    # only when orders actually fits). Only the customer dim is hinted
    # (same shape as regional_supplier_volume's dims).
    return (
        li.filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("date"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(
            F.sum(p * (F.lit(1).cast("decimal(18,4)") - d)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "regional_supplier_volume",
    "SELECT n.n_name, "
    "  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * "
    "           (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue, "
    "  COUNT(*) AS n_lines "
    "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
    "JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
    "JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey "
    "JOIN nation n ON s.s_nationkey = n.n_nationkey "
    "JOIN region r ON n.n_regionkey = r.r_regionkey "
    "WHERE r.r_name = 'ASIA' "
    "GROUP BY n.n_name",
)
def regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped 6-way join (fact chain + 3 broadcast dims + the
    same-nation co-location predicate) — exercises every remaining driver
    table (supplier/nation/region)."""
    rd = lambda t: spark.read.parquet(f"{sf_dir}/{t}.parquet")  # noqa: E731
    li, orders, cust = rd("lineitem"), rd("orders"), rd("customer")
    supp, nation, region = rd("supplier"), rd("nation"), rd("region")
    p = F.col("l_extendedprice").cast("decimal(18,4)")
    d = F.col("l_discount").cast("decimal(18,4)")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            F.sum(p * (F.lit(1).cast("decimal(18,4)") - d)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "promo_revenue_share",
    "SELECT ROUND(CAST((SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * "
    "              (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) "
    "       FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
    "       WHERE p.p_type = 'PROMO') / "
    "      (SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * "
    "              (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) FROM lineitem l) "
    "      * 100 AS DOUBLE), 6) AS promo_pct",
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-shaped promo share (conditional aggregation, decimal-exact
    sums ratioed in double). part grows with the corpus (like orders in
    segment_shipping_revenue), so it carries NO forced broadcast hint:
    AQE broadcasts it only when it actually fits."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    rev = (F.col("l_extendedprice").cast("decimal(18,4)")
           * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")))
    j = li.join(part, li.l_partkey == part.p_partkey)
    row = j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,4)")))
        .cast("double").alias("promo"),
        F.sum(rev).cast("double").alias("total"),
    )
    return row.select(F.round(F.col("promo") / F.col("total") * 100, 6).alias("promo_pct"))


@register(
    "lang_source_rollup",
    "SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY ROLLUP(lang, source)",
)
def lang_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional aggregation: ROLLUP(lang, source) with subtotal and
    grand-total rows (null-marked) — identical null semantics both engines."""
    return (
        _docs(spark, sf_dir)
        .rollup("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "daily_event_trend",
    # NULL-ts events belong to no day (engines also order NULLs
    # differently in windows, skewing lag/ma7 at the boundary)
    "WITH d AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events "
    "WHERE ts IS NOT NULL GROUP BY 1) "
    "SELECT CAST(day AS VARCHAR) AS day, n, "
    "  CAST(n - lag(n) OVER (ORDER BY day) AS BIGINT) AS delta, "
    "  CAST(AVG(n) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) "
    "    AS ma7 FROM d",
)
def daily_event_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series window breadth: daily counts with day-over-day delta
    (lag) and a 7-day moving average (bounded ROWS frame) — one shuffle,
    ordered analytic functions over it."""
    from pyspark.sql import Window as W

    ev = _events(spark, sf_dir).filter(F.col("ts").isNotNull())
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(F.count(F.lit(1)).alias("n"))
    w = W.orderBy("day")
    ma = W.orderBy("day").rowsBetween(-6, 0)
    return d.select(
        F.col("day").cast("string").alias("day"),
        "n",
        (F.col("n") - F.lag("n").over(w)).cast("long").alias("delta"),
        F.avg("n").over(ma).cast("double").alias("ma7"),
    )


from sketchlib.textops import token_count_sql as _tc_sql  # noqa: E402


@register(
    "long_docs_non_english",
    # set-operator breadth: EXCEPT removes the English docs from the
    # long-doc set; INTERSECT confirms membership in both derived sets
    f"WITH long_docs AS (SELECT doc_id FROM documents WHERE {_tc_sql('duckdb')} > 40), "
    "en AS (SELECT doc_id FROM documents WHERE lang = 'en') "
    "SELECT doc_id FROM (SELECT * FROM long_docs EXCEPT SELECT * FROM en) "
    "INTERSECT SELECT doc_id FROM documents WHERE source <> 'src0'",
)
def long_docs_non_english(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operator breadth: EXCEPT + INTERSECT composed over derived doc
    sets (Spark subtract/intersect distinct semantics ≡ SQL)."""
    from sketchlib.textops import token_count_sql

    docs = _docs(spark, sf_dir)
    long_docs = docs.selectExpr("doc_id", f"{token_count_sql('spark')} AS tc").filter(
        "tc > 40"
    ).select("doc_id")
    en = docs.filter(F.col("lang") == "en").select("doc_id")
    other = docs.filter(F.col("source") != "src0").select("doc_id")
    return long_docs.subtract(en).intersect(other)


_SOURCES = [f"src{i}" for i in range(20)]

_PIVOT_ORACLE = (
    "SELECT lang, "
    + ", ".join(
        f"CAST(SUM(CASE WHEN source = '{s}' THEN 1 ELSE 0 END) AS BIGINT) AS {s}"
        for s in _SOURCES
    )
    + " FROM documents GROUP BY lang"
)


@register("lang_by_source_pivot", _PIVOT_ORACLE)
def lang_by_source_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-language counts spread across the 20 source columns
    (explicit value list keeps the schema static); missing combos are 0 in
    both engines."""
    out = _docs(spark, sf_dir).groupBy("lang").pivot("source", _SOURCES).count()
    return out.na.fill(0, _SOURCES)


@register(
    "builtin_sketch_crosscheck",
    # the whole crosscheck runs over the finite-value population (the
    # value-sketch input contract), including the distinct count
    "SELECT COUNT(DISTINCT user_id) AS exact_distinct, TRUE AS hll_ok, "
    "TRUE AS builtin_ok, TRUE AS kll_vs_builtin_ok FROM events "
    "WHERE isfinite(value)",
)
def builtin_sketch_crosscheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Our sketches vs Spark's own approximate built-ins (SURVEY.md §2.6
    cross-checks): HLL vs approx_count_distinct vs exact, and KLL vs
    percentile_approx — all must sit within the published bounds."""
    import numpy as np

    from sketchlib.spark.agg import SketchSpec, build_sketch

    from sketchlib.spark.agg import finite_values

    # the WHOLE crosscheck — distinct count included — runs over the
    # finite-value population (matching the oracle's WHERE isfinite);
    # NULL keys are additionally ignored by COUNT(DISTINCT) and the
    # sketch alike
    ev = _events(spark, sf_dir).filter(finite_values("value"))
    if not ev.head(1):  # empty finite population: checks hold vacuously
        return spark.createDataFrame(
            [(0, True, True, True)],
            "exact_distinct long, hll_ok boolean, builtin_ok boolean, kll_vs_builtin_ok boolean",
        )
    hll = build_sketch(ev, SketchSpec("xc-hll", "hll", (14,)), "user_id")
    kll = build_sketch(ev, SketchSpec("xc-kll", "kll", (256,)), "value")
    row = ev.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", 0.02).alias("builtin_acd"),
        F.expr("percentile_approx(value, 0.5, 10000)").alias("builtin_p50"),
        F.expr("percentile(value, 0.5)").alias("exact_p50"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    bound = 3 * 1.04 / np.sqrt(hll.m) + 0.01
    hll_ok = abs(hll.estimate() - row["exact"]) / max(row["exact"], 1) <= bound
    builtin_ok = abs(row["builtin_acd"] - row["exact"]) / max(row["exact"], 1) <= 0.06
    # compare medians by rank INTERVAL through the exact distribution
    # (tied data: a single value can span more mass than the tolerance)
    n = row["n"]
    km, bm = F.lit(kll.quantile(0.5)), F.lit(float(row["builtin_p50"]))
    ranks = ev.agg(
        (F.sum((F.col("value") < km).cast("long")) / n).alias("r_kll_lt"),
        (F.sum((F.col("value") <= km).cast("long")) / n).alias("r_kll_le"),
        (F.sum((F.col("value") < bm).cast("long")) / n).alias("r_b_lt"),
        (F.sum((F.col("value") <= bm).cast("long")) / n).alias("r_b_le"),
    ).first()
    kll_ok = (
        ranks["r_kll_lt"] - 0.025 <= 0.5 <= ranks["r_kll_le"] + 0.025
        and ranks["r_b_lt"] - 0.025 <= 0.5 <= ranks["r_b_le"] + 0.025
    )
    return spark.createDataFrame(
        [(row["exact"], bool(hll_ok), bool(builtin_ok), bool(kll_ok))],
        "exact_distinct long, hll_ok boolean, builtin_ok boolean, kll_vs_builtin_ok boolean",
    )


@register(
    "sketch_semi_join_events",
    "SELECT e.event_id, e.user_id, e.event_type FROM events e "
    "WHERE e.user_id IN (SELECT c_custkey FROM customer "
    "WHERE c_mktsegment = 'BUILDING')",
)
def sketch_semi_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accelerated semi join (runtime filter): events are probed
    through a cuckoo filter built on the qualifying customer keys BEFORE the
    exact semi join — output is exact (no false negatives + FP removal), so
    the oracle is the plain IN-subquery."""
    from sketchlib.spark.cuckoo import semi_join_via_filter

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    return semi_join_via_filter(ev, cust, "user_id", "c_custkey")


#: Driver-gate rotation. The driver checks at most the
#: FIRST 50 entries of queries() against their oracles; the registry is
#: larger (len(REGISTRY) — do the math from the live count, not this
#: comment). _GATE_FRONT pulls the entries that fell past the r1-r3
#: cutoff (plus each round's new registrations) to the head so
#: CORRECTNESS_r{N} records a hard green row for each; _GATE_DEFERRED
#: pushes long-stable cuckoo/sketch/textops entries past the cutoff — they remain fully covered by
#: tools/check_oracles.py (which runs ALL entries) and pytest, and
#: cf_membership_inserted additionally stays smoke-checked via entry().
_GATE_FRONT = [
    # r8 rotation (planned from the per-round driver greens).
    # Arithmetic before consolidation: 100 entries, must-front
    # EXACTLY 50 (6 r5-deferred + 44 r6-greens) — zero slack for the
    # round's 3 new entries. The singleton consolidation is therefore
    # applied WITHIN the must-front set (cf_*/single-sketch entries were
    # new in r7, and consolidating them then would have ADDED never-green
    # composites to a full window; they consolidate once they front):
    # 14 must-front singletons fold into 5 composites (mm×3→1, url×2→1,
    # clusters×2→1, ivf-clustered×2→1, sampling×5→1), freeing 9 slots.
    # Window: 6 r5 + 30 remaining r6-greens + 5 composites + 4 new
    # (bmp, wav, harmonic, ivfpq) + 5 oldest-r7 fill = 50.
    # Registry: 100 − 14 + 5 + 4 = 95.
    # --- last driver green r5 (deferred from r7's window by rule)
    "lineitem_pricing_summary",
    "top_customers_by_revenue",
    "segment_shipping_revenue",
    "regional_supplier_volume",
    "promo_revenue_share",
    "daily_event_trend",
    # --- consolidation composites (new names — first driver gating)
    "mm_payload_pipeline",
    "url_canonical_dedup",
    "dedup_clusters_cc_star",
    "ann_ivf_clustered_probe",
    "sampling_suite",
    # --- new in r8 — first driver gating (uncommented as each lands)
    "mm_decode_bmp",                 # real pure-numpy BMP decode
    "mm_decode_wav",                 # real RIFF/WAVE PCM decode (the audio half)
    "web_host_harmonic",             # HyperBall harmonic centrality
    "ann_ivf_pq_topk",               # IVF + product quantization
    # --- last driver green r6 (two-round rule)
    "ann_cosine_topk",
    "ann_ivf_topk",
    "ann_lsh_topk_batch",
    "asof_click_attribution",
    "ccnet_ppl_buckets",
    "curation_funnel_stats",
    "curation_pipeline_e2e",
    "dedup_embedding_cosine",
    "dedup_embedding_lsh",
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_paragraphs",
    "doc_bpe_real_token_count",
    "doc_charset_profile",
    "domain_blocklist_stats",
    "export_manifest_shards",
    "html_extract_text",
    "incremental_dedup_new_docs",
    "lm_bigram_scores",
    "pack_sequences_2048",
    "pack_sequences_bpe_1024",
    "quality_classifier_scores",
    "range_join_promo_windows",
    "simhash_fingerprints",
    "train_val_split",
    "training_pipeline_e2e",
    "user_sessions",
    "vocab_top100",
    "web_curation_pipeline_e2e",
    # --- fill (r7-greens, chosen to be OUTSIDE the r9 cf_*/single-sketch
    # consolidation set so r9's must-front load shrinks; ann_lsh_topk
    # ceded its fill slot to mm_decode_wav — it stays r7-green-covered)
    "builtin_sketch_crosscheck",
    "cross_doc_span_dedup",
    "decontaminate_n13",
    "decontaminate_sketched",
    "decontaminate_vs_holdout",
]
_GATE_DEFERRED = [
    # nothing REQUIRES deferral this round (everything outside the window
    # is r7-green); the cf_* family is parked at the tail explicitly as
    # the r9 consolidation set (8→~4 when they next front).
    "cf_membership_inserted",
    "cf_count_add_remove",
    "cf_probe_after_remove_fp32",
    "cf_heldout_zero_fp32",
    "cf_sizing_math",
    "cf_probe_cogrouped",
    "cf_probe_auto_lowlimit",
    "cf_flags_after_misuse",
]


def gate_order() -> list[str]:
    """Registry names in driver-gate order: rotated-in entries first, the
    rest in registration order, long-stable deferred entries last. Every
    registered name appears exactly once (tested)."""
    import sketchlib.queries_data  # noqa: F401 — registers pipeline queries

    head = [n for n in _GATE_FRONT if n in REGISTRY]
    tail = [n for n in _GATE_DEFERRED if n in REGISTRY]
    placed = set(head) | set(tail)
    mid = [n for n in REGISTRY if n not in placed]
    return head + mid + tail


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name][0] for name in gate_order()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name][1] for name in gate_order() if REGISTRY[name][1] is not None
    }
