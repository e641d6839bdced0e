"""Common-Crawl-style pages pipeline: synthetic generator, pinned text
extractor, skew-aware salting, checkpoint/resume with per-partition lineage.

The ``pages`` table is the BASELINE.json ``input_hint`` shape:
``url:string, warc_ts:timestamp, html:binary, text:string, lang:string`` —
synthesized deterministically (seed-keyed mixing of the row index; no
external data, FIXTURES.md §1). Hosts are Zipf-skewed so a handful of heavy
hosts dominate, exercising the salted-repartition path the north rule
requires.

Invariant (input_hint): ``text`` is byte-identical to the pinned extractor
applied to ``html`` for every url — asserted in tests with a sha2 join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sketchlib.kernels.bitutil import mix_u64

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

_WORDS = (
    "data web crawl page index query table filter spark merge batch stream "
    "fast small large value key hash host link text title corpus token shard"
).split()

_LANGS = ["en", "de", "fr", "es", "it"]
_LANG_CUM = [60, 75, 87, 95, 100]  # weighted percent thresholds

EXTRACTOR_VERSION = 1  # bump on ANY change to extract_text (pins the invariant)


def extract_text(html: pd.Series) -> pd.Series:
    """Pinned deterministic extractor: title + paragraph texts, whitespace
    normalized, joined by single spaces. Vectorized pandas string ops — no
    per-row Python."""
    if len(html) and isinstance(html.iloc[0], (bytes, bytearray)):
        s = html.str.decode("utf-8")
    else:
        s = html
    title = s.str.extract(r"<title>(.*?)</title>", expand=False).fillna("")
    paras = s.str.findall(r"<p>(.*?)</p>").str.join(" ")
    txt = (title + " " + paras).str.replace(r"\s+", " ", regex=True).str.strip()
    return txt


def _gen_batch(idx: np.ndarray, n_hosts: int, seed: int) -> pd.DataFrame:
    """Deterministic page rows for row indices ``idx`` (vectorized)."""
    u = idx.astype(np.uint64) + np.uint64(seed * 0x9E3779B9)
    m1, m2, m3 = mix_u64(u), mix_u64(u, 2), mix_u64(u, 3)
    # Zipf-ish host rank via inverse CDF of 1/r: r = H^uniform
    unif = (m1 >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    host = np.power(float(n_hosts), unif).astype(np.int64)  # 1..H, heavy head
    w = np.array(_WORDS)
    nw = np.uint64(len(_WORDS))
    t1, t2 = w[(m2 % nw).astype(int)], w[((m2 >> np.uint64(8)) % nw).astype(int)]
    b1 = w[(m3 % nw).astype(int)]
    b2 = w[((m3 >> np.uint64(8)) % nw).astype(int)]
    b3 = w[((m3 >> np.uint64(16)) % nw).astype(int)]
    b4 = w[((m3 >> np.uint64(24)) % nw).astype(int)]
    sidx = pd.Series(idx.astype(str))
    shost = pd.Series(host.astype(str))
    url = "https://host" + shost + ".example.com/p/" + sidx
    title = pd.Series(t1) + " " + pd.Series(t2) + " " + sidx
    body = (
        pd.Series(b1) + " " + pd.Series(b2) + " page " + sidx + " on host " + shost
        + ". " + pd.Series(b3) + "  " + pd.Series(b4)
    )
    html = (
        "<html><head><title>" + title + "</title></head><body><p>"
        + body + "</p><p>footer " + shost + "</p></body></html>"
    ).str.encode("utf-8")
    lang_pick = (m1 % np.uint64(100)).astype(np.int64)
    lang = pd.Series(np.select([lang_pick < c for c in _LANG_CUM], _LANGS, default="en"))
    ts = pd.to_datetime(
        np.datetime64("2026-01-01") + ((idx * 37) % (86400 * 365)).astype("timedelta64[s]")
    )
    return pd.DataFrame(
        {"url": url, "warc_ts": ts, "html": html, "text": extract_text(html), "lang": lang}
    )


def generate_pages(
    spark: SparkSession, n_rows: int, n_hosts: int = 1000, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic pages table: content is a pure function of
    the row index (partition layout does not affect values)."""

    def gen(batches):
        for pdf in batches:
            if len(pdf):
                yield _gen_batch(pdf["id"].to_numpy(), n_hosts, seed)

    rng = spark.range(0, n_rows, numPartitions=partitions)
    return rng.mapInPandas(gen, PAGES_SCHEMA)


def with_extracted_text(df: DataFrame, html_col: str = "html", out_col: str = "text") -> DataFrame:
    """Re-run the pinned extractor over an html column (Arrow-batched)."""
    from pyspark.sql import types as T

    out_schema = T.StructType(df.schema.fields + [T.StructField(out_col + "_check", T.StringType())])

    def run(batches):
        for pdf in batches:
            yield pdf.assign(**{out_col + "_check": extract_text(pdf[html_col])})

    return df.mapInPandas(run, out_schema)


# ------------------------------------------------------------------- skew


def heavy_keys(df: DataFrame, key, top_fraction: float = 0.001, min_count: int | None = None) -> list:
    """Detect heavy-hitter keys with an exact count aggregation (the
    correctness baseline; see :func:`heavy_keys_approx` for the single-pass
    sketch version used at scale)."""
    key = F.col(key) if isinstance(key, str) else key
    counts = df.groupBy(key.alias("k")).agg(F.count(F.lit(1)).alias("c"))
    total = df.count()
    thresh = min_count if min_count is not None else max(2, int(total * top_fraction))
    return [r["k"] for r in counts.filter(F.col("c") >= thresh).collect()]


def heavy_keys_approx(
    df: DataFrame,
    key,
    top_fraction: float = 0.001,
    candidates_per_partition: int = 64,
    cms_params: tuple = (8192, 5),
) -> list:
    """Single-pass approximate heavy hitters: each partition maintains a
    Misra-Gries summary fed from EVERY Arrow batch's full value_counts
    (vectorized — no per-row Python) plus a CMS partial over the same
    batches; MG survivors union at the driver and are scored against the
    merged CMS.

    Recall: a key with global fraction ≥ top_fraction has local fraction
    ≥ top_fraction in at least one partition (pigeonhole), and Misra-Gries
    with capacity m keeps every key whose partition count exceeds
    rows/(m+1) — the capacity is sized to max(candidates_per_partition,
    2/top_fraction) so such keys always survive (unlike per-batch top-k,
    which can drop a key that is heavy across the partition but never tops
    any single batch). CMS overestimates only, so the threshold check
    removes false candidates up to ε·N slack without losing true ones. One
    pass over the data, no groupBy shuffle on the raw key; candidate
    hashes come from one tiny driver-side job over the survivor strings."""
    import pandas as pd

    from sketchlib.kernels.cms import CountMinSketch
    from sketchlib.util import i64_to_u64

    key = F.col(key) if isinstance(key, str) else key
    sel = df.select(key.cast("string").alias("__k"), F.xxhash64(key.cast("string")).alias("__h"))
    w, d = cms_params
    cap = max(candidates_per_partition, int(2.0 / max(top_fraction, 1e-6)))

    def scan(batches):
        cms = CountMinSketch(w, d)
        mg: dict[str, int] = {}
        rows = 0
        for pdf in batches:
            if pdf.empty:
                continue
            cms.add_hashes(i64_to_u64(pdf["__h"].to_numpy()))
            rows += len(pdf)
            for k, c in pdf["__k"].value_counts().items():  # full batch counts
                mg[k] = mg.get(k, 0) + int(c)
            if len(mg) > cap:
                # Misra-Gries batch decrement: subtract the overflow-rank
                # count from every key, drop the non-positive — total error
                # per key is bounded by rows/(cap+1)
                dec = sorted(mg.values())[len(mg) - cap - 1]
                mg = {k: v - dec for k, v in mg.items() if v > dec}
        if rows == 0:
            return
        cands = list(mg) or [None]
        yield pd.DataFrame(
            {
                "cand": cands,
                "sketch": [cms.to_bytes()] + [None] * (len(cands) - 1),
                "rows": rows,
            }
        )

    out = sel.mapInPandas(scan, "cand string, sketch binary, rows long").collect()
    if not out:
        return []
    import numpy as np

    cms = CountMinSketch.merge([bytes(r["sketch"]) for r in out if r["sketch"] is not None])
    cand = sorted({r["cand"] for r in out if r["cand"] is not None})
    if not cand:
        return []
    # hashes of the (few) candidates via the same in-plan expression used
    # for the CMS — not a data pass
    spark = df.sparkSession
    hrows = (
        spark.createDataFrame([(k,) for k in cand], "k string")
        .select("k", F.xxhash64("k").alias("h"))
        .collect()
    )
    thresh = max(2, int(cms.total * top_fraction))
    hs = np.array([r["h"] for r in hrows], dtype=np.int64).view(np.uint64)
    est = cms.query_hashes(hs)
    return [r["k"] for r, e in zip(hrows, est.tolist()) if e >= thresh]


def salted_repartition(
    df: DataFrame, key, num_partitions: int, heavy: list, salt_buckets: int = 16,
    salt_source=None,
) -> DataFrame:
    """Repartition by key, splitting only the known-heavy keys across
    ``salt_buckets`` salts (SURVEY.md §4 custom work #1). Light keys keep
    salt 0, so downstream per-key aggregations only need a second combine
    step for the heavy keys."""
    key = F.col(key) if isinstance(key, str) else key
    if salt_source is None:
        src = key
    else:
        src = F.col(salt_source) if isinstance(salt_source, str) else salt_source
    if heavy:
        salt = F.when(
            key.isin(heavy), F.pmod(F.xxhash64(src), F.lit(salt_buckets))
        ).otherwise(F.lit(0))
    else:
        salt = F.lit(0)
    return df.withColumn("_salt", salt).repartition(num_partitions, key, F.col("_salt"))


# ------------------------------------------------- checkpoint / resume


def _input_fingerprint(df: DataFrame, input_id: str | None) -> str:
    """Identity of the build input recorded in checkpoint meta: the sha256
    of the sorted source-file listing (path is identity enough for
    immutable data lakes), mixed with an optional caller-supplied id.
    Resuming against a DIFFERENT input would silently merge stale partials
    with new ones — a mismatch must force a full rebuild."""
    import hashlib

    try:
        files = sorted(df.inputFiles())
    except Exception:
        files = []
    h = hashlib.sha256("\n".join(files).encode())
    if input_id is not None:
        h.update(b"\x00" + input_id.encode())
    return h.hexdigest()


def checkpointed_build(
    df: DataFrame,
    spec,
    key,
    checkpoint_dir: str,
    input_id: str | None = None,
) -> DataFrame:
    """Resumable distributed cuckoo build (north_rule requirement).

    Partial filters are persisted per (name, shard, part_id) under
    ``checkpoint_dir/partials`` together with lineage (rows per partition).
    On re-run, partitions whose partials already exist are skipped INSIDE
    the build operator (so the resumed plan — and therefore the
    row→partition assignment — is identical to the original run); only
    missing partitions rebuild, then all partials merge. Canonical merge
    guarantees the result is byte-identical to an uninterrupted build.

    Resume validity requires the same input and partition count as the
    original run; ``meta.json`` records the spec, the partition count, AND
    the input identity (source-file fingerprint + optional caller-supplied
    ``input_id`` for non-file inputs) — any mismatch triggers a clean full
    rebuild instead of a silently wrong resume. An unreadable partial
    raises before the resume appends anything: remove it and re-run, and
    only its partition rebuilds.
    """
    import json
    import os
    import shutil

    from sketchlib.spark.cuckoo import PARTIAL_SCHEMA, build_partials, merge_partials

    spark = df.sparkSession
    partials_path = os.path.join(checkpoint_dir, "partials")
    meta_path = os.path.join(checkpoint_dir, "meta.json")
    n_parts = df.rdd.getNumPartitions()
    meta = {
        "name": spec.name,
        "size": spec.size,
        "fpsize": spec.fpsize,
        "num_shards": spec.num_shards,
        "seed": spec.seed,
        "n_partitions": n_parts,
        "input": _input_fingerprint(df, input_id),
        # the build filters NULL keys; a checkpoint from before then rebuilds
        "null_keys": "skipped",
    }
    done: set[int] = set()
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            prev = json.load(f)
        if prev != meta:
            shutil.rmtree(partials_path, ignore_errors=True)  # incompatible: full rebuild
        elif os.path.exists(partials_path):
            # an unreadable partial raises here, before anything is appended
            existing = spark.read.schema(PARTIAL_SCHEMA).parquet(partials_path)
            existing = existing.filter(F.col("name") == spec.name)
            done = {r["part_id"] for r in existing.select("part_id").distinct().collect()}
    os.makedirs(checkpoint_dir, exist_ok=True)
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    if done != set(range(n_parts)):
        fresh = build_partials(df, spec, key=key, skip_pids=done or None)
        fresh.write.mode("append").parquet(partials_path)
    all_partials = spark.read.parquet(partials_path).filter(F.col("name") == spec.name)
    merged = merge_partials(all_partials)
    merged.write.mode("overwrite").parquet(os.path.join(checkpoint_dir, "merged"))
    return spark.read.parquet(os.path.join(checkpoint_dir, "merged"))
