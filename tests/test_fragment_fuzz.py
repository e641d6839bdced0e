"""Cross-engine fuzz differential: run the documents-only registry queries
over an adversarial corpus (quotes, backslashes, regex/LIKE metachars,
unicode incl. astral plane, messy whitespace, duplicates) in BOTH engines
and compare the gate's own value hash. This attacks the known risk area of
the portable-SQL design — literal escaping and unicode semantics — beyond
what the benign synthetic testdata can exercise.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
from check_oracles import TABLES, value_hash  # noqa: E402

NASTY_TEXTS = [
    'he said "hi" and \'bye\' to them',
    "path C:\\temp\\new \\\\server\\share and \\s+ and \\n literal",
    "a.*b (c|d) [e] {2,3} ^start end$ x+? y++",
    "h\u00e9llo w\u00f6rld \u00e9t\u00e9 stra\u00dfe \u6f22\u5b57 \u043a\u0438\u0440\u0438\u043b\u043b\u0438\u0446\u0430",
    "combining e\u0301 vs precomposed \u00e9 mark",
    "a\t\tb   c  \t d",
    "x" * 500 + " tail",
    "",
    "   \t  ",
    "<p>tag</p> &amp; &lt;div&gt;",
    "mail a.b+c@d-e.org and 10.0.0.1 and +1 555-123-4567 end",
    "100% off _under_ like%pattern $var `tick`",
    "spam " * 30 + "signal",
    "the quick brown fox jumps over the lazy dog again and again",
    "THE QUICK brown FOX jumps OVER the LAZY dog AGAIN and AGAIN",
    "nbsp\u00a0separated\u00a0words here",
    "semi;colon, comma. dot: colon",
    "unicode spaces\u2009thin\u200ahair em\u2003quad",
    "tr dotless \u0131 stays lowercase already",
]
#: duplicates (exact-dedup signal) + per-doc uniqueness mix
CORPUS = NASTY_TEXTS + [NASTY_TEXTS[0], NASTY_TEXTS[13], "solo unique row"]

#: documents-only queries whose fragments face the adversarial text
FUZZ_QUERIES = [
    "lang_id_heuristic",
    "doc_token_count",
    "doc_quality",
    "doc_fingerprint",
    "doc_token_count_bpe",
    "doc_repetition_stats",
    "cross_doc_span_dedup",
    "doc_top_terms",
    "doc_pii_scrub",
    "quality_filter_gopher",
    "sampling_suite",
    "dedup_exact_docs",
    "pack_sequences_2048",
    "curation_pipeline_e2e",
    "vocab_top100",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_clusters_cc_star",
    "simhash_fingerprints",
    "lang_source_rollup",
    "lang_by_source_pivot",
    "long_docs_non_english",
    "hll_distinct_docs_per_lang",
    "incremental_dedup_new_docs",
    "training_pipeline_e2e",
    "mm_payload_pipeline",
    "mm_decode_bmp",
    "mm_decode_wav",
    "source_counts_salted",
    "sink_roundtrip_jsonl",
    "decontaminate_vs_holdout",
    "decontaminate_sketched",
    "decontaminate_n13",
    "doc_bpe_real_token_count",
    "mm_extract_features",
    "doc_bpe_token_ids",
    "pack_sequences_bpe_1024",
    "quality_classifier_scores",
    "url_canonical_dedup",
    "lm_bigram_scores",
    "pack_batches_bpe_1024",
    "html_extract_text",
    "html_extract_links",
    "dedup_paragraphs",
    "streaming_paragraph_dedup_replay",
    "domain_blocklist_stats",
    "ccnet_ppl_buckets",
    "web_host_pagerank",
    "web_host_pagerank_dangling",
    "web_link_pagerank",
    "web_host_harmonic",
    "train_val_split",
    "web_curation_pipeline_e2e",
    "curation_funnel_stats",
    "doc_charset_profile",
    "host_crawl_priority",
    "export_manifest_shards",
]

#: astral-plane chars: Spark's UTF8String split('')/ascii() operate on
#: CODEPOINTS (not UTF-16 units), matching DuckDB — verified by the
#: rolling-fingerprint parity assert below, astral emoji included.
ASTRAL_TEXT = "emoji \U0001f600 pile \U0001f4a9 astral"

#: the one pinned engine boundary: the JVM's full Unicode case mapping
#: lowercases U+0130 (İ) to 'i' + U+0307 combining dot (TWO chars) where
#: DuckDB's utf8proc maps it to plain 'i' — lower()-derived fragments
#: (fingerprints, token identity) diverge on dotted-İ text.
DOTTED_I_TEXT = "tr dotted İ case"


@pytest.fixture(scope="module")
def fuzz_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("fuzzsf")
    langs = ["en", "de", "fr", "es", "it", "und"]
    n = len(CORPUS)
    # four NULL rows: NULL text (caught concat/NOT-IN/UDF traps), NULL
    # lang, NULL source, and NULL doc_id with live text (caught the r7
    # NULL-equality-join and NULL-sort-key oracle divergences: Spark
    # equi-joins/window keys drop or misplace NULL ids where a DuckDB
    # oracle's = join never matches and ORDER BY places NULLS LAST)
    # the NULL-id text shares a paragraph with CORPUS[0] so keyed dedup
    # paths face a cross-doc duplicate owned by a NULL key, not just a
    # standalone orphan row
    rows = {
        "doc_id": list(range(n)) + [n, n + 1, n + 2, None],
        "text": CORPUS
        + [None, "null lang row", "null source row", f"null id row\n{CORPUS[0]}"],
        "lang": [langs[i % len(langs)] for i in range(n)] + ["en", None, "de", "fr"],
        "source": [f"src{i % 4}" for i in range(n)] + ["src0", "src1", None, "src2"],
    }
    pq.write_table(pa.table(rows), d / "documents.parquet")
    for t in TABLES:
        if t == "documents":
            continue
        src = f"/root/testdata/sf0.001/{t}.parquet"
        os.symlink(src, d / f"{t}.parquet")
    _clear_query_caches(str(d))
    return str(d)


def _clear_query_caches(sf_dir):
    """Queries cache derived tables under /tmp/sketchlib_cache/<basename>
    (ANN signature/IVF indexes, the hourly rollup). The basename of a
    pytest tmp dir REPEATS across sessions while its contents may change,
    so stale caches would silently corrupt the gate (the CLAUDE.md
    stale-cache invariant) — clear them whenever a fixture is (re)built."""
    import shutil

    shutil.rmtree(
        f"/tmp/sketchlib_cache/{os.path.basename(sf_dir.rstrip('/'))}",
        ignore_errors=True,
    )


def _compare(spark, sf_dir, names):
    from sketchlib.queries import oracle_sql, queries

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs, oracles = queries(), oracle_sql()
    bad = []
    for name in names:
        s = value_hash(qs[name](spark, sf_dir))
        o = value_hash(con.sql(oracles[name]).arrow())
        if s != o:
            bad.append((name, s[:3], o[:3]))
    return bad


def test_fragments_survive_adversarial_text(spark, fuzz_dir):
    assert _compare(spark, fuzz_dir, FUZZ_QUERIES) == []


def test_rolling_fingerprint_parity_including_astral(spark, fuzz_dir):
    """Per-char fold parity holds on the full corpus AND on astral-plane
    text: both engines fold codepoints, not UTF-16 units."""
    assert _compare(spark, fuzz_dir, ["doc_rolling_fingerprint"]) == []
    from sketchlib.textops import rolling_fingerprint_sql

    sdf = spark.createDataFrame([(0, ASTRAL_TEXT)], "doc_id long, text string")
    s_val = sdf.selectExpr(f"{rolling_fingerprint_sql('spark')} AS fp").first()["fp"]
    con = duckdb.connect()
    d_val = con.sql(
        "SELECT " + rolling_fingerprint_sql("duckdb").replace("text", "'" + ASTRAL_TEXT + "'") + " AS fp"
    ).fetchone()[0]
    assert s_val == d_val


def test_dotted_capital_i_lower_boundary(spark):
    """JVM lower('İ') = 'i' + combining dot; DuckDB's = 'i'. Pinned so
    a silent engine change (either direction) fails loudly."""
    s_len = (
        spark.createDataFrame([(DOTTED_I_TEXT,)], "text string")
        .selectExpr("length(lower(text)) AS n")
        .first()["n"]
    )
    d_len = duckdb.sql(
        f"SELECT length(lower('{DOTTED_I_TEXT}')) AS n"
    ).fetchone()[0]
    assert s_len == d_len + 1


# ----------------------------------------------- adversarial events corpus

EVENT_QUERIES = [
    "user_sessions",
    "asof_click_attribution",
    "range_join_promo_windows",
    "daily_event_trend",
    "hourly_continuous_aggregate",
    "cms_event_type_counts",
    "tdigest_median_per_type",
    "tdigest_value_quantiles",
    "kll_value_quantiles",
    "hll_distinct_users",
    "hll_user_overlap",
    "builtin_sketch_crosscheck",
    "sketch_semi_join_events",
    "sink_roundtrip_csv",
    "kmv_user_overlap",
]


@pytest.fixture(scope="module")
def fuzz_events_dir(tmp_path_factory):
    """events with NULL keys, NaN/±Inf/overflow values, exact timestamp
    ties, epoch/far-future timestamps, duplicate event_ids, empty event
    types — the dirt a 10^12-row web corpus actually contains."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("fuzzev")
    T = dt.datetime(2024, 1, 10, 12, 0, 0)
    us = dt.timedelta(microseconds=1)
    rows, eid = [], 0

    def ev(ts, uid, et, val, props="p"):
        nonlocal eid
        eid += 1
        rows.append((eid, ts, uid, et, val, props))

    ev(T, 1, "click", 1.0)
    ev(T, 1, "purchase", 2.0)  # click/purchase at the SAME microsecond
    ev(T + us, 1, "click", 1.5)
    # NULL user_ids — purchase BEFORE click: a window partition would
    # group NULL keys and emit an as-of match, DuckDB's ASOF equality
    # never matches NULL; the operator drops NULL-key rows by contract
    ev(T, None, "purchase", 4.0)
    ev(T + us, None, "click", 3.0)
    ev(T + 2 * us, 2, "view", float("nan"))
    ev(T + 3 * us, 2, "view", float("inf"))
    ev(T + 4 * us, 2, "view", -1e308)  # overflows the x1000 quantization
    ev(T + 5 * us, 2, "view", 1e-308)
    ev(dt.datetime(1970, 1, 1), 3, "click", 1.0)
    ev(dt.datetime(2200, 1, 1), 3, "purchase", 1.0)
    rows.append((1, T + 6 * us, 4, "click", 1.0, "dup"))  # duplicate event_id
    g = dt.timedelta(minutes=30)
    ev(T, 5, "view", 1.0)
    ev(T + g, 5, "view", 1.0)
    ev(T + g + g, 5, "view", 1.0)  # exact session-gap boundaries
    ev(T, 6, "", 0.0, "日本語 'quote' \\back")
    # NULL ts (no session/day/bucket) and NULL event_type (no sketch key)
    rows.append((9001, None, 1, "click", 1.0, "p"))
    rows.append((9002, dt.datetime(2024, 1, 11), None, None, 2.0, None))
    rows.append((9003, None, 42, None, None, "p"))
    for i in range(300):
        ev(
            T + dt.timedelta(seconds=i * 7),
            10 + i % 9,
            ["click", "view", "purchase", "error", "signup"][i % 5],
            (i % 13) - 6 + 0.5,
        )
    tab = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows]),
        }
    )
    pq.write_table(tab, d / "events.parquet")
    for t in TABLES:
        if t == "events":
            continue
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet", d / f"{t}.parquet")
    _clear_query_caches(str(d))
    return str(d)


def test_event_queries_survive_adversarial_rows(spark, fuzz_events_dir):
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        assert _compare(spark, fuzz_events_dir, EVENT_QUERIES) == []
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


# -------------------------------------------- adversarial embeddings corpus

EMB_QUERIES = [
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_lsh_topk_batch",
    "ann_ivf_topk",
    "dedup_embedding_cosine",
    "dedup_embedding_lsh",
    "ann_ivf_clustered_probe",
    "ann_ivf_pq_topk",
]


@pytest.fixture(scope="module")
def fuzz_emb_dir(tmp_path_factory):
    """embeddings with zero vectors, NaN/Inf components, absurd magnitudes
    (failed encoder rows), exact duplicates, and a negated vector — all
    excluded by the validity contract identically in both engines."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("fuzzemb")
    rng = random.Random(7)
    DIM = 64
    vecs = []

    def v(lst, label=0):
        vecs.append((len(vecs), [float(x) for x in lst], label))

    for i in range(60):
        v([rng.gauss(0, 1) for _ in range(DIM)], i % 4)
    vecs.append((60, list(vecs[0][1]), 0))
    vecs.append((61, list(vecs[1][1]), 1))  # exact duplicates
    v([0.0] * DIM)  # zero vector: cosine undefined
    v([1.0] * (DIM - 1) + [float("nan")])
    v([1.0] * (DIM - 1) + [float("inf")])
    v([1e30] * DIM)  # overflows fixed-point Lloyd quantization
    v([1e-30] * DIM)  # tiny but valid
    # VALID under the norm² ≤ 1e12 contract, yet floor(1e5·2^20)² ≈ 1.1e22
    # overflows an exact BIGINT norm² — the PQ x0 clamp (PQ_X0_CLAMP)
    # must keep both engines defined AND identical on this row
    v([1e5] + [0.0] * (DIM - 1), 1)
    # NULL component: DuckDB's list_sum would SKIP it (vector looks valid)
    # while Spark's fold NULL-poisons — the validity predicate's explicit
    # no-NULL-element clause keeps both engines excluding it
    vecs.append((len(vecs), [1.0] * (DIM - 1) + [None], 3))
    v([-x for x in vecs[2][1]], 2)  # cosine -1 partner
    tab = pa.table(
        {
            "vec_id": pa.array([x[0] for x in vecs], pa.int64()),
            "embedding": pa.array([x[1] for x in vecs], pa.list_(pa.float32())),
            "label": pa.array([x[2] for x in vecs], pa.int32()),
        }
    )
    pq.write_table(tab, d / "embeddings.parquet")
    for t in TABLES:
        if t == "embeddings":
            continue
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet", d / f"{t}.parquet")
    _clear_query_caches(str(d))
    return str(d)


def test_embedding_queries_survive_adversarial_vectors(spark, fuzz_emb_dir):
    assert _compare(spark, fuzz_emb_dir, EMB_QUERIES) == []


def test_embedding_oracles_embed_the_current_validity_predicate():
    """The validity predicate is inlined in the oracle SQL strings; this
    pins each inlined copy to similarity.valid_embedding_sql so a contract
    change (e.g. the norm ceiling) cannot silently leave oracles stale."""
    from sketchlib.queries import oracle_sql
    from sketchlib.similarity import valid_embedding_sql

    cols = {
        "ann_cosine_topk": ["e.embedding"],
        "ann_lsh_topk": ["embedding"],
        "ann_lsh_topk_batch": ["embedding"],
        "ann_ivf_topk": ["embedding"],
        "dedup_embedding_cosine": ["a.embedding", "b.embedding"],
        "dedup_embedding_lsh": ["embedding"],
    }
    oracles = oracle_sql()
    for name, col_list in cols.items():
        for col in col_list:
            assert valid_embedding_sql(col) in oracles[name], (name, col)


def test_streaming_sessions_match_batch_on_adversarial_events(spark, fuzz_events_dir):
    """Batch ≡ streaming sessionization parity on the DIRTY corpus too:
    NULL user_ids, exact 30-minute gap boundaries, epoch and far-future
    timestamps (the latter slams the watermark forward — append mode may
    then emit most sessions, every one of which must be a batch session)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from sketchlib.relops import sessionize

    # the far-future row is excluded from BOTH sides: which micro-batch it
    # lands in decides how far the watermark jumps, so sessions straddling
    # that jump could be emitted partially — a file-listing-order
    # dependence, not a semantics difference
    ev = (
        spark.read.parquet(f"{fuzz_events_dir}/events.parquet")
        .select("user_id", "ts")
        .filter(F.year("ts") < 2100)
    )
    batch = {
        (r["user_id"], r["session_start_us"], r["last_ts_us"], r["n_events"])
        for r in sessionize(ev, "user_id", "ts", "30 minutes").collect()
    }
    work = tempfile.mkdtemp(prefix="sketchlib-fuzz-sess-")
    try:
        src = os.path.join(work, "src")
        ev.withColumn("g", F.pmod(F.xxhash64("ts"), F.lit(4))).write.partitionBy("g").parquet(src)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src + "/g=*")
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "1 minute")
        )
        agg = (
            stream.groupBy("user_id", F.session_window("ts", "30 minutes").alias("__w"))
            .agg(F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("__last"))
            .select(
                "user_id",
                F.unix_micros(F.col("__w.start")).alias("session_start_us"),
                F.unix_micros(F.col("__last")).alias("last_ts_us"),
                "n_events",
            )
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("fuzz_sess_out")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        emitted = {
            (r["user_id"], r["session_start_us"], r["last_ts_us"], r["n_events"])
            for r in spark.sql("SELECT * FROM fuzz_sess_out").collect()
        }
        assert emitted, "no sessions emitted"
        assert emitted <= batch, sorted(emitted - batch)[:3]
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ------------------------------------------- adversarial relational corpus

REL_QUERIES = [
    "lineitem_pricing_summary",
    "top_customers_by_revenue",
    "segment_shipping_revenue",
    "regional_supplier_volume",
    "promo_revenue_share",
]


@pytest.fixture(scope="module")
def fuzz_rel_dir(tmp_path_factory):
    """lineitem/orders extended with NULL keys/flags/dates, zero and
    negative quantities/prices, discount 1.0, 1e12 prices, and 1970/2099
    dates — upstream dirt the TPC-H-shaped queries must agree on."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("fuzzrel")
    con = duckdb.connect()
    li = con.sql(f"SELECT * FROM read_parquet('{base}/lineitem.parquet')").df()
    od = con.sql(f"SELECT * FROM read_parquet('{base}/orders.parquet')").df()
    T = dt.datetime(1995, 6, 1)
    nasty_li = pd.DataFrame(
        [
            dict(l_orderkey=None, l_partkey=1, l_suppkey=1, l_linenumber=1,
                 l_quantity=0.0, l_extendedprice=0.0, l_discount=0.0, l_tax=0.0,
                 l_returnflag=None, l_linestatus="O", l_shipdate=T),
            dict(l_orderkey=1, l_partkey=None, l_suppkey=1, l_linenumber=2,
                 l_quantity=-5.0, l_extendedprice=-100.5, l_discount=1.0,
                 l_tax=0.5, l_returnflag="R", l_linestatus=None, l_shipdate=None),
            dict(l_orderkey=1, l_partkey=1, l_suppkey=None, l_linenumber=3,
                 l_quantity=1e9, l_extendedprice=1e12, l_discount=0.9999,
                 l_tax=0.0001, l_returnflag="", l_linestatus="",
                 l_shipdate=dt.datetime(1970, 1, 1)),
            dict(l_orderkey=2, l_partkey=2, l_suppkey=2, l_linenumber=4,
                 l_quantity=0.1, l_extendedprice=0.01,
                 l_discount=0.3333333333333333, l_tax=0.1, l_returnflag="A",
                 l_linestatus="F", l_shipdate=dt.datetime(2099, 12, 31)),
        ]
    )
    nasty_od = pd.DataFrame(
        [
            dict(o_orderkey=None, o_custkey=1, o_orderstatus=None,
                 o_totalprice=-1.0, o_orderdate=None, o_orderpriority=""),
            dict(o_orderkey=999901, o_custkey=None, o_orderstatus="F",
                 o_totalprice=1e12, o_orderdate=dt.datetime(1970, 1, 1),
                 o_orderpriority=None),
            dict(o_orderkey=999902, o_custkey=1, o_orderstatus="O",
                 o_totalprice=0.0, o_orderdate=dt.datetime(2099, 1, 1),
                 o_orderpriority="1-URGENT"),
        ]
    )

    def write_us(df, path):
        # pandas emits ns timestamps, which Spark's parquet reader rejects
        t = pa.Table.from_pandas(df)
        fields = [
            (f.name, pa.timestamp("us") if pa.types.is_timestamp(f.type) else f.type)
            for f in t.schema
        ]
        pq.write_table(t.cast(pa.schema(fields)), path)

    write_us(pd.concat([li, nasty_li], ignore_index=True), d / "lineitem.parquet")
    write_us(pd.concat([od, nasty_od], ignore_index=True), d / "orders.parquet")
    for t in TABLES:
        if t in ("lineitem", "orders"):
            continue
        os.symlink(f"{base}/{t}.parquet", d / f"{t}.parquet")
    _clear_query_caches(str(d))
    return str(d)


def test_relational_queries_survive_adversarial_rows(spark, fuzz_rel_dir):
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        assert _compare(spark, fuzz_rel_dir, REL_QUERIES) == []
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


# --------------------------------------------- adversarial doc_id corpus

ID_QUERIES = [
    "cf_membership_inserted",
    "cf_count_add_remove",
    "cf_probe_after_remove_fp32",
    "cf_heldout_zero_fp32",
    "cf_flags_after_misuse",
    "cf_probe_cogrouped",
    "cf_probe_auto_lowlimit",
    "bloom_membership_docs",
    "doc_fingerprint",
    "dedup_exact_docs",
    "pack_sequences_2048",
]


@pytest.fixture(scope="module")
def fuzz_ids_dir(tmp_path_factory):
    """documents with negative, zero, near-2^62, and DUPLICATE doc_ids —
    duplicates exercise the reference's multiset insert/remove semantics
    end-to-end through the distributed filter."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("fuzzids")
    ids = [-5, -1, 0, 1, 2, 2, 2, 2**62, 2**62 - 1, 7, 8, 9] + list(range(100, 110))
    texts = (CORPUS * 2)[: len(ids)]
    langs = ["en", "de", "fr"]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": texts,
                "lang": [langs[i % 3] for i in range(len(ids))],
                "source": [f"src{i % 3}" for i in range(len(ids))],
            }
        ),
        d / "documents.parquet",
    )
    for t in TABLES:
        if t == "documents":
            continue
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet", d / f"{t}.parquet")
    _clear_query_caches(str(d))
    return str(d)


def test_cuckoo_queries_survive_adversarial_ids(spark, fuzz_ids_dir):
    assert _compare(spark, fuzz_ids_dir, ID_QUERIES) == []


def test_filter_queries_match_oracles_on_null_keys(spark, sf_dir, tmp_path):
    """Cuckoo builds skip NULL keys, while these oracles treat NULL as a
    value: a NULL text in both snapshots is seen, a NULL-id survivor is
    returned. Both queries must still agree with them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [None, None, "a b", "c d", "a b", "null id " * 6]
    n = len(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(list(range(n - 1)) + [None], pa.int64()),
                "text": texts,
                "lang": ["en"] * n,
                "source": ["src0"] * n,
            }
        ),
        tmp_path / "documents.parquet",
    )
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    _clear_query_caches(str(tmp_path))
    names = ["incremental_dedup_new_docs", "training_pipeline_e2e"]
    assert _compare(spark, str(tmp_path), names) == []


def test_every_registry_query_is_fuzz_covered():
    """VERDICT r3 #7: the adversarial sweep must stay exhaustive — every
    registry query belongs to a fuzz-corpus list (or a documented
    exemption), so a new query cannot silently skip the cross-engine
    gate."""
    from sketchlib.queries import REGISTRY, gate_order

    gate_order()  # force registration
    covered = set(FUZZ_QUERIES) | set(EVENT_QUERIES) | set(EMB_QUERIES)
    covered |= set(REL_QUERIES) | set(ID_QUERIES)
    covered.add("doc_rolling_fingerprint")  # dedicated astral-parity test
    exempt = {
        # pure sizing arithmetic over a literal case list — reads no
        # corpus table, so no corpus can perturb it (kernel-level
        # grammar fuzz lives in test_cuckoo_kernel/test_str2size_grammar)
        "cf_sizing_math",
    }
    missing = sorted(set(REGISTRY) - covered - exempt)
    assert missing == [], f"queries outside the fuzz sweep: {missing}"
