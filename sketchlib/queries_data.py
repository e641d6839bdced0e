"""Training-data-pipeline queries: text analysis, dedup, similarity,
multimodal — registered into the same oracle-checked registry as the
sketch queries (SURVEY.md §2.6-2.10 + task-mandated pipeline operators).

Where the operator is expressible as portable SQL, the oracle runs the SAME
fragments in DuckDB (true expression parity). Approximate/indexed operators
(SimHash, MinHash-LSH, sign-LSH ANN, IVF+Lloyd) carry INDEPENDENT DuckDB
re-implementations of the same deterministic algorithm (literal
hyperplanes, band equalities, fixed-point Lloyd rounds, recursive-CTE
reachability) — algorithm-level parity, not recall coincidences; recall vs
brute force is additionally measured in pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sketchlib.queries import _docs, register
from sketchlib.similarity import valid_embedding_sql
from sketchlib.textops import (
    _PAD_T,
    bpe_token_count_sql,
    fingerprint_sql,
    lang_id_sql,
    norm_text_sql,
    token_array_expr,
    quality_sql,
    rolling_fingerprint_sql,
    token_count_sql,
    with_bpe_token_count,
    with_fingerprint,
    with_lang_id,
    with_quality,
    with_rolling_fingerprint,
    with_simhash,
    with_token_count,
)

# ------------------------------------------------------------ text ops

_SCORES, _PRED = lang_id_sql()

_LANG_ORACLE = (
    f"WITH t AS (SELECT doc_id, {_PAD_T} AS __t FROM documents), "
    f"s AS (SELECT doc_id, {', '.join(_SCORES)} FROM t) "
    f"SELECT doc_id, {_PRED} AS pred_lang FROM s"
)


@register("lang_id_heuristic", _LANG_ORACLE)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-count language ID — identical SQL fragments run in Spark and
    DuckDB, so the gate checks expression-level parity."""
    return with_lang_id(_docs(spark, sf_dir))


@register(
    "doc_token_count",
    f"SELECT doc_id, {token_count_sql('duckdb')} AS n_tokens FROM documents",
)
def doc_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_token_count(_docs(spark, sf_dir))


@register(
    "doc_quality",
    f"SELECT doc_id, {', '.join(quality_sql('duckdb'))} FROM documents",
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_quality(_docs(spark, sf_dir))


@register(
    "doc_fingerprint",
    f"SELECT doc_id, {fingerprint_sql('duckdb')} AS fingerprint FROM documents",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_fingerprint(_docs(spark, sf_dir))


@register(
    "doc_token_count_bpe",
    f"SELECT doc_id, {bpe_token_count_sql('duckdb')} AS n_bpe_tokens FROM documents",
)
def doc_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (letter/digit/punctuation runs via one regex
    scan) — the pre-tokenizer-shaped companion to the whitespace count."""
    return with_bpe_token_count(_docs(spark, sf_dir))


def _bpe_real_oracle() -> str:
    from sketchlib.bpe import bpe_count_oracle_sql

    return bpe_count_oracle_sql()


@register("doc_bpe_real_token_count", _bpe_real_oracle())
def doc_bpe_real_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL byte-level BPE token counting: GPT-2-style
    rank-ordered merges from a fixed deterministic table, applied by the
    vectorized batch kernel (one numpy sweep per merge over the
    sentinel-separated concatenated buffer — no per-document Python). The
    oracle replays the SAME merges in DuckDB as chained ``replace`` calls
    over anchor-aligned token codes (leftmost-first non-overlapping ==
    the numpy sweep, proven + fuzzed in tests/test_bpe.py)."""
    from sketchlib.bpe import bpe_token_count

    return bpe_token_count(_docs(spark, sf_dir))


def _bpe_ids_oracle() -> str:
    from sketchlib.bpe import bpe_ids_oracle_sql

    # COALESCE: DuckDB array_to_string([]) is NULL (string_agg-over-zero-
    # rows semantics) where Spark concat_ws yields '' — empty docs must
    # serialize as '' in both engines (fuzz-gate finding, r7)
    return (
        "SELECT doc_id, "
        "COALESCE(array_to_string(list_transform(token_ids, "
        "x -> CAST(x AS VARCHAR)), ','), '') AS token_ids_csv, "
        "CAST(len(token_ids) AS BIGINT) AS n_tokens "
        f"FROM ({bpe_ids_oracle_sql()})"
    )


@register("doc_bpe_token_ids", _bpe_ids_oracle())
def doc_bpe_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL real-BPE encoding — the column a packing/training job
    actually consumes. Same vectorized batch kernel as
    doc_bpe_real_token_count; the oracle slices the anchor-code string
    back into codes and parses each 4-hex payload as the id.

    Gate shape: the library API returns
    (doc_id, token_ids array<int>), but the driver's canonicalizer cannot
    hash list cells, so the GATE entry serializes the ids to an
    engine-exact CSV scalar (integer→string cast is bit-portable) plus
    the length. Every id is value-checked — nothing is lost vs the array
    form; the array stays the library deliverable (bpe.bpe_token_ids)."""
    from sketchlib.bpe import bpe_token_ids

    return bpe_token_ids(_docs(spark, sf_dir)).select(
        "doc_id",
        F.expr(
            "concat_ws(',', transform(token_ids, x -> CAST(x AS STRING)))"
        ).alias("token_ids_csv"),
        F.expr("CAST(size(token_ids) AS BIGINT)").alias("n_tokens"),
    )


def _pack_bpe_oracle() -> str:
    from sketchlib.bpe import bpe_count_expr_sql

    # doc_id IS NOT NULL: the NULL-sort-key trap, see _PACK_ORACLE
    return (
        "WITH t AS (SELECT doc_id, {tc} AS n_tokens, md5(CAST(doc_id AS VARCHAR)) AS k "
        "           FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL), "
        "c AS (SELECT doc_id, n_tokens, "
        "             SUM(n_tokens) OVER (ORDER BY k, doc_id ROWS UNBOUNDED PRECEDING) AS cum "
        "      FROM t) "
        "SELECT doc_id, n_tokens, "
        "       CAST((cum - n_tokens) // 1024 AS BIGINT) AS bin_id, "
        "       CAST((cum - n_tokens) % 1024 AS BIGINT) AS start_off FROM c"
    ).format(tc=bpe_count_expr_sql())


@register("pack_sequences_bpe_1024", _pack_bpe_oracle())
def pack_sequences_bpe_1024(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing driven by REAL BPE token counts (the production
    shape: the packer's budget is measured in the same tokens the model
    trains on, not a whitespace proxy). bpe_token_count feeds
    pack_sequences via tokens_col — the count never round-trips through
    the driver; NULL texts drop with the counts (oracle filters
    identically)."""
    from sketchlib.bpe import bpe_token_count
    from sketchlib.textops import pack_sequences

    counts = bpe_token_count(
        _docs(spark, sf_dir).where(F.col("doc_id").isNotNull())
    )
    return pack_sequences(counts, budget=1024, tokens_col="n_bpe_real_tokens")


_PACK_BATCHES_ORACLE_TMPL = """
WITH ids AS ({ids_sql}),
t AS (SELECT doc_id, token_ids, CAST(len(token_ids) AS BIGINT) AS n,
             md5(CAST(doc_id AS VARCHAR)) AS k FROM ids
      WHERE doc_id IS NOT NULL),
c AS (SELECT doc_id, token_ids, n,
             CAST(SUM(n) OVER (ORDER BY k, doc_id ROWS UNBOUNDED PRECEDING) - n
                  AS BIGINT) AS start FROM t),
seg AS (SELECT b, greatest(start, b * {b}) - b * {b} AS pos,
               list_slice(token_ids,
                          greatest(start, b * {b}) - start + 1,
                          least(start + n, (b + 1) * {b}) - start) AS piece
        FROM c, UNNEST(range(start // {b}, (start + n - 1) // {b} + 1)) AS u(b)
        WHERE n > 0)
SELECT b AS bin_id,
       COALESCE(array_to_string(list_transform(flatten(list(piece ORDER BY pos)),
                                               x -> CAST(x AS VARCHAR)), ','),
                '') AS token_ids_csv,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(piece)) AS BIGINT) AS n_tokens
FROM seg GROUP BY 1
"""


def _pack_batches_oracle() -> str:
    from sketchlib.bpe import bpe_ids_oracle_sql

    return _PACK_BATCHES_ORACLE_TMPL.format(ids_sql=bpe_ids_oracle_sql(), b=1024)


@register("pack_batches_bpe_1024", _pack_batches_oracle())
def pack_batches_bpe_1024(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATERIALIZED packed training rows (the artifact a loader
    reads): real-BPE token ids laid out by pack_sequences' deterministic
    concat-then-chunk order, each bin exactly 1024 ids (last ragged),
    straddling docs split across neighbouring bins. Engine-exact integer
    ids end to end; the oracle rebuilds the same layout with a window
    cumsum and fills bins with list_slice + ordered list aggregation.

    Gate shape: the library API (textops.pack_batches)
    returns the bins as array<int>; the gate serializes each bin to an
    engine-exact CSV scalar so the driver canon can hash it — every id
    in every bin is still value-checked in order. NULL doc_ids drop on
    both sides: the fill joins layout⋈ids ON doc_id (NULL keys never
    equi-join — the r7 fuzz NULL-id finding) and the layout sorts on
    md5(doc_id) (the NULLS FIRST/LAST engine split)."""
    from sketchlib.bpe import bpe_token_ids
    from sketchlib.textops import pack_batches

    ids = bpe_token_ids(_docs(spark, sf_dir).where(F.col("doc_id").isNotNull()))
    return pack_batches(ids, budget=1024).select(
        "bin_id",
        F.expr(
            "concat_ws(',', transform(token_ids, x -> CAST(x AS STRING)))"
        ).alias("token_ids_csv"),
        "n_docs",
        "n_tokens",
    )


_CLASSIFIER_ORACLE_TMPL = (
    "SELECT doc_id, s AS quality_score, s >= 0 AS quality_keep "
    "FROM (SELECT doc_id, {expr} AS s FROM documents WHERE text IS NOT NULL)"
)


def _classifier_oracle() -> str:
    from sketchlib.textops import classifier_score_sql

    return _CLASSIFIER_ORACLE_TMPL.format(expr=classifier_score_sql("duckdb"))


def _url_source_sql() -> str:
    from sketchlib.urlops import synth_url_sql

    return (
        f"SELECT doc_id, {synth_url_sql('duckdb')} AS url "
        "FROM documents WHERE doc_id IS NOT NULL"
    )


def _url_canon_dedup_oracle() -> str:
    from sketchlib.urlops import canonical_url_cte_sql

    withs, last = canonical_url_cte_sql("duckdb", _url_source_sql())
    return (
        f"{withs}, g AS (SELECT canonical_url, min(doc_id) AS keeper_doc_id, "
        f"CAST(count(*) AS BIGINT) AS n_dups FROM {last} GROUP BY 1) "
        f"SELECT p.doc_id, p.url, p.canonical_url, g.keeper_doc_id, g.n_dups "
        f"FROM {last} p JOIN g USING (canonical_url)"
    )


@register("url_canonical_dedup", _url_canon_dedup_oracle())
def url_canonical_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + canonical-URL dedup in one gate entry
    (consolidates the r6-green url_canonicalize + url_dedup_canonical
    singletons; both operators stay
    exercised): every doc row carries its raw synthetic url, the
    canonical form (drop fragment, lowercase scheme+host, strip default
    port, normalize path, drop tracking params + bytewise-sort the rest —
    a zero-shuffle codegen projection), and its dup group's keeper
    (min doc_id) + size from url_dedup_canonical, joined back on
    canonical_url. The fixture is md5(doc_id)-derived identically in both
    engines (north_star keys 'on url'). At scale the annotate-each-doc
    join is the standard keep/drop-decision shape: one groupBy exchange +
    one self-join on the same key."""
    from sketchlib.urlops import with_canonical_url, with_synth_url

    docs = _docs(spark, sf_dir)
    # materialize-before-fanout (ADVICE r8 / CLAUDE.md r6 rule): the
    # regex-heavy canonicalization subtree feeds BOTH join sides, so it is
    # computed ONCE and checkpointed; groups re-derive url_dedup_canonical's
    # exact aggregation from the materialized per_doc relation
    per_doc = (
        with_canonical_url(with_synth_url(docs))
        .select("doc_id", "url", "canonical_url")
        .localCheckpoint(eager=True)
    )
    groups = per_doc.groupBy("canonical_url").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )
    return per_doc.join(groups, "canonical_url").select(
        "doc_id", "url", "canonical_url", "keeper_doc_id", "n_dups"
    )


def _domain_blocklist_oracle() -> str:
    from sketchlib.urlops import HOST_RX, blocklist_sql, canonical_url_cte_sql

    withs, last = canonical_url_cte_sql("duckdb", _url_source_sql())
    return f"""
{withs},
h AS (SELECT doc_id, regexp_extract(canonical_url, '{HOST_RX}', 1) AS host
      FROM {last}),
b AS ({blocklist_sql('duckdb')})
SELECT host AS domain, CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS keeper_doc_id
FROM h
WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.host IS NOT DISTINCT FROM h.host)
GROUP BY 1
"""


@register("domain_blocklist_stats", _domain_blocklist_oracle())
def domain_blocklist_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1-style domain blocklist filtering + per-domain survivor stats:
    the blocklist is a tiny independent relation (md5-selected fixture
    hosts), anti-joined under an explicit broadcast; the only exchange is
    the domain groupBy. Oracle expresses the anti-join as NOT EXISTS with
    IS NOT DISTINCT FROM (never NOT IN — the CLAUDE.md NULL trap)."""
    from sketchlib.urlops import domain_blocklist_stats

    return domain_blocklist_stats(spark, _docs(spark, sf_dir))


def _split_oracle(val_pct: int = 5) -> str:
    from sketchlib.textops import fingerprint_sql
    from sketchlib.urlops import _md5i

    bucket = _md5i("duckdb", f"'split:' || {fingerprint_sql('duckdb')}") + " % 100"
    return (
        f"SELECT doc_id, CASE WHEN ({bucket}) < {val_pct} THEN 'val' "
        f"ELSE 'train' END AS split, CAST(({bucket}) AS BIGINT) AS split_bucket "
        "FROM documents WHERE text IS NOT NULL"
    )


@register("train_val_split", _split_oracle())
def train_val_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split: the bucket is keyed on the
    exact-dedup fingerprint, so duplicates can never straddle the split
    (the GPT-3 contamination class). Zero-shuffle codegen projection —
    the guarantee is determinism, not grouping."""
    from sketchlib.relops import train_val_split

    return train_val_split(_docs(spark, sf_dir))


def _pagerank_withs(
    iterations: int = 3,
    e0_sql: str | None = None,
    pre_ctes: str = "",
    dangling: bool = False,
) -> str:
    """The quantized-PageRank CTE chain over any ``e0`` edge relation
    (one (src, dst) row per link): default is the md5 host fixture;
    ``e0_sql`` swaps in a derived edge source whose own namespaced CTEs
    ride in via ``pre_ctes`` (the _webpipe_ctes composition discipline);
    ``dangling=True`` replays the redistributed-dangling-mass variant
    (per-iteration ``D div N`` share added to every node's inflow)."""
    from sketchlib.graphops import DAMP_DEN, DAMP_NUM, RANK_SCALE, host_edges_sql

    base = DAMP_DEN - DAMP_NUM
    ctes = ([pre_ctes] if pre_ctes else []) + [
        f"e0 AS ({e0_sql or host_edges_sql('duckdb')})",
        "e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM e0 GROUP BY 1, 2)",
        "deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY 1)",
        "nodes AS (SELECT n.host, CAST(coalesce(d.ow, 0) AS BIGINT) AS out_weight"
        " FROM (SELECT src AS host FROM e UNION SELECT dst FROM e) n"
        " LEFT JOIN deg d ON d.src = n.host)",
        "ew AS (SELECT e.src, e.dst, e.w, d.ow FROM e JOIN deg d USING (src))",
        f"r0 AS (SELECT host, CAST({RANK_SCALE} AS BIGINT) AS r FROM nodes)",
    ]
    if dangling:
        ctes.append("nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes)")
    for i in range(1, iterations + 1):
        ctes.append(
            f"c{i} AS (SELECT ew.dst,"
            f" CAST(sum(r{i - 1}.r * ew.w // ew.ow) AS BIGINT) AS s"
            f" FROM ew JOIN r{i - 1} ON r{i - 1}.host = ew.src GROUP BY 1)"
        )
        if dangling:
            ctes.append(
                f"d{i} AS (SELECT (SELECT CAST(coalesce(sum(r.r), 0) AS BIGINT)"
                f" FROM r{i - 1} r JOIN nodes USING (host)"
                " WHERE nodes.out_weight = 0) // nn.n AS share FROM nn)"
            )
            inflow = f"(coalesce(c{i}.s, 0) + d{i}.share)"
            extra = f" CROSS JOIN d{i}"
        else:
            inflow = f"coalesce(c{i}.s, 0)"
            extra = ""
        ctes.append(
            f"r{i} AS (SELECT n.host,"
            f" CAST({base * (RANK_SCALE // DAMP_DEN)}"
            f" + ({DAMP_NUM} * {inflow}) // {DAMP_DEN} AS BIGINT) AS r"
            f" FROM nodes n LEFT JOIN c{i} ON c{i}.dst = n.host{extra})"
        )
    ctes.append(
        f"pr AS (SELECT n.host, r{iterations}.r AS pagerank_q, n.out_weight"
        f" FROM nodes n JOIN r{iterations} USING (host))"
    )
    return "WITH " + ",\n".join(ctes)


def _pagerank_oracle(iterations: int = 3) -> str:
    return f"{_pagerank_withs(iterations)}\nSELECT * FROM pr"


#: src-index predicate making fixture hosts 32..39 DANGLING (they appear
#: only as dst): regexp parse of the 'h{k}.example.com' index — identical
#: literal in both engines (digits-only pattern, no backslashes).
_DANGLE_SRC_PRED = "CAST(regexp_extract(src, '^h([0-9]+)', 1) AS INT) < 32"


def _pagerank_dangling_oracle(iterations: int = 3) -> str:
    from sketchlib.graphops import host_edges_sql

    e0 = (
        f"SELECT src, dst FROM ({host_edges_sql('duckdb')}) "
        f"WHERE {_DANGLE_SRC_PRED}"
    )
    return f"{_pagerank_withs(iterations, e0_sql=e0, dangling=True)}\nSELECT * FROM pr"


@register("web_host_pagerank_dangling", _pagerank_dangling_oracle())
def web_host_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The redistributed-dangling-mass PageRank variant (the treatment
    published host-rank pipelines apply): per iteration the rank held by
    zero-outlink hosts is split ``D div N`` across all nodes before
    damping — engine-exact integer arithmetic throughout. The fixture
    drops edges whose src index ≥ 32, so hosts 32..39 are genuinely
    dangling and the redistribution path carries real mass (the
    unfiltered fixture has no dangling hosts — the variant would be
    vacuously equal to the base recurrence)."""
    from sketchlib.graphops import host_graph, pagerank

    edges = host_graph(_docs(spark, sf_dir)).where(F.expr(_DANGLE_SRC_PRED))
    return pagerank(edges, iterations=3, redistribute_dangling=True)


def _link_pagerank_oracle(iterations: int = 3) -> str:
    """Links→edges→ranks end to end: the canonical-url CTE chain derives
    each page's src host, the synthetic-html CTE + regexp_extract_all
    derives its hrefs, link resolution (absolute → href host, relative →
    page host) builds e0, and the shared pagerank chain replays the
    identical quantized recurrence."""
    from sketchlib.graphops import ABS_HREF_RX
    from sketchlib.htmlops import _HREF_RX, synth_html_sql
    from sketchlib.textops import _rx
    from sketchlib.urlops import HOST_RX, canonical_url_cte_sql

    url_withs, url_last = canonical_url_cte_sql("duckdb", _url_source_sql())
    href_lit = _rx("duckdb", _HREF_RX)
    html_src = (
        f"SELECT doc_id, {synth_html_sql('duckdb')} AS html "
        "FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL"
    )
    pre = (
        f"{url_withs[len('WITH '):]},\n"
        f"lk_src AS (SELECT doc_id,"
        f" regexp_extract(canonical_url, '{HOST_RX}', 1) AS src"
        f" FROM {url_last}),\n"
        f"lk_html AS ({html_src}),\n"
        f"lk_href AS (SELECT doc_id,"
        f" unnest(regexp_extract_all(html, {href_lit}, 1)) AS href FROM lk_html)"
    )
    e0 = (
        "SELECT s.src, CASE WHEN regexp_matches(h.href, '^https?://') "
        f"THEN lower(regexp_extract(h.href, '{ABS_HREF_RX}', 1)) "
        "ELSE s.src END AS dst FROM lk_href h JOIN lk_src s USING (doc_id)"
    )
    return f"{_pagerank_withs(iterations, e0_sql=e0, pre_ctes=pre)}\nSELECT * FROM pr"


@register("web_link_pagerank", _link_pagerank_oracle())
def web_link_pagerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank from EXTRACTED outlinks end to end:
    synth page → href extraction → link resolution (absolute → its own
    host, relative → the page's canonical host) → (src, dst) edge agg →
    the quantized fixed-point recurrence. One corpus-sized projection +
    one (src, dst) exchange; iterations touch only the host graph."""
    from sketchlib.graphops import link_pagerank

    return link_pagerank(_docs(spark, sf_dir))


def _harmonic_oracle(radius: int = 3, p: int = 6) -> str:
    """HyperBall checked against GROUND TRUTH, not a replay: the oracle
    computes exact bounded-radius distances with a recursive CTE, takes
    each node's true ball B_in(v, r) = {u : d(u→v) ≤ r}, and derives the
    register state from the mathematical identity reg_j(v, r) =
    max{rho(u) : u ∈ B_in(v, r), idx(u) = j} — so a Spark-side max-merge
    that ever under- or over-propagates a counter hash-mismatches. The
    per-node (idx, rho) derivation is the shared hb_register_sql /
    hb_rho_case fragments (md5 hash, mod split, generated integer CASE —
    no floats, no libm), and all downstream arithmetic is BIGINT with the
    div-vs-floor guard, so every column is engine-exact."""
    from sketchlib.graphops import (
        HB_ALPHA_NUM,
        HB_ZQ_SCALE,
        hb_register_sql,
        hb_rho_case,
        host_edges_sql,
    )

    m = 1 << p
    h, j, w = hb_register_sql("duckdb", "host", p)
    num = HB_ALPHA_NUM[p] * m * m * HB_ZQ_SCALE
    radii = ", ".join(f"({r})" for r in range(radius + 1))
    return f"""WITH RECURSIVE
hb_e0 AS ({host_edges_sql('duckdb')}),
hb_e AS (SELECT DISTINCT src, dst FROM hb_e0),
hb_nodes AS (SELECT src AS host FROM hb_e UNION SELECT dst FROM hb_e),
hb_h AS (SELECT host, CAST({h} AS BIGINT) AS __h FROM hb_nodes),
hb_reg AS (SELECT host, CAST({j} AS BIGINT) AS j,
           {hb_rho_case(f"({w})")} AS reg FROM hb_h),
hb_reach(u, v, d) AS (
  SELECT host, host, 0 FROM hb_nodes
  UNION
  SELECT r.u, e.dst, r.d + 1 FROM hb_reach r JOIN hb_e e ON e.src = r.v
  WHERE r.d < {radius}),
hb_mind AS (SELECT u, v, MIN(d) AS md FROM hb_reach GROUP BY 1, 2),
hb_radii AS (SELECT CAST(x AS BIGINT) AS radius FROM (VALUES {radii}) t(x)),
hb_ball AS (SELECT mi.v AS host, r.radius, g.j, MAX(g.reg) AS reg
            FROM hb_mind mi
            JOIN hb_radii r ON mi.md <= r.radius
            JOIN hb_reg g ON g.host = mi.u
            GROUP BY 1, 2, 3),
hb_sums AS (SELECT host, radius,
            CAST(({m} - count(*)) * {HB_ZQ_SCALE}
                 + sum({HB_ZQ_SCALE} >> CAST(reg AS INT)) AS BIGINT) AS zq,
            CAST({m} - count(*) AS BIGINT) AS zeros,
            CAST(sum(reg) AS BIGINT) AS reg_sum
            FROM hb_ball GROUP BY 1, 2),
hb_est AS (SELECT host, radius, zq, zeros, reg_sum,
           CAST({num} // zq AS BIGINT) AS ball_est_milli FROM hb_sums),
hb_term AS (SELECT *, CAST(CASE WHEN radius = 0 THEN 0 ELSE greatest(0,
            ball_est_milli - lag(ball_est_milli) OVER
            (PARTITION BY host ORDER BY radius)) // radius END AS BIGINT)
            AS t FROM hb_est)
SELECT host, radius, zq, zeros, reg_sum, ball_est_milli,
       CAST(sum(t) OVER (PARTITION BY host ORDER BY radius
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS harmonic_q
FROM hb_term"""


@register("web_host_harmonic", _harmonic_oracle())
def web_host_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall harmonic centrality over the host graph
    (Boldi–Vigna 2013 — the algorithm behind Common Crawl's published host
    ranking), with this repo's HLL registers as the per-node iteration
    state: sparse max-of-rho counters grown one radius per round by a
    regs⋈edges join + (host, j) max-merge (the mergeable-aggregator
    pattern of SURVEY §2.3 as graph state). Output is the engine-exact
    integer register summary per (host, radius) plus the rational-alpha
    estimator surrogate and its harmonic accumulation; the oracle derives
    the same registers from EXACT recursive-CTE distances, so the gate
    checks the iterated max-merge against ground-truth reachability."""
    from sketchlib.graphops import host_harmonic

    return host_harmonic(_docs(spark, sf_dir), radius=3, p=6)


def _manifest_oracle(n_shards: int = 16) -> str:
    from sketchlib.textops import token_count_sql
    from sketchlib.urlops import _md5i

    shard = _md5i("duckdb", "'shard:' || CAST(doc_id AS VARCHAR)") + f" % {n_shards}"
    h = _md5i("duckdb", "'c:' || text")
    return f"""
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(t) AS BIGINT) AS n_tokens,
       CAST(bit_xor(h) AS BIGINT) AS content_xor
FROM (SELECT CAST(({shard}) AS BIGINT) AS shard,
             {token_count_sql('duckdb')} AS t, ({h}) AS h
      FROM documents WHERE text IS NOT NULL)
GROUP BY 1
"""


@register("export_manifest_shards", _manifest_oracle())
def export_manifest_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-release verification manifest (Dolma-style publishing):
    per-shard doc/token counts plus an order-insensitive BIT_XOR content
    checksum (overflow-free where an integer SUM of hash values is not).
    One small-group aggregation, map-side combined; the companion
    relops.export_sharded writes the shards + this manifest and the
    pytest roundtrip proves read-back → recompute == manifest."""
    from sketchlib.relops import shard_manifest

    return shard_manifest(_docs(spark, sf_dir))


def _crawl_priority_oracle() -> str:
    from sketchlib.graphops import host_pair_exprs
    from sketchlib.textops import classifier_score_sql

    src, _ = host_pair_exprs("duckdb")
    return f"""{_pagerank_withs()},
hq AS (SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(q) AS BIGINT) AS sum_quality
       FROM (SELECT {src} AS host,
                    {classifier_score_sql('duckdb')} AS q
             FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL)
       GROUP BY 1)
SELECT pr.host, pr.pagerank_q, pr.out_weight, hq.n_docs, hq.sum_quality
FROM pr JOIN hq USING (host)"""


@register("host_crawl_priority", _crawl_priority_oracle())
def host_crawl_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-scheduling table: host PageRank joined with the host's
    corpus footprint and summed classifier quality. sum stays a raw
    signed BIGINT (no integer avg — the signed div-vs-floor engine
    trap); quality side is one host-keyed map-side-combined agg."""
    from sketchlib.graphops import host_crawl_priority

    return host_crawl_priority(_docs(spark, sf_dir))


@register("web_host_pagerank", _pagerank_oracle())
def web_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph PageRank (Common Crawl's host-level centrality ranking,
    the crawl-priority / quality prior): quantized BIGINT fixed-point
    recurrence, 3 static iterations, dangling mass not redistributed —
    engine-exact by construction. Corpus-sized work is ONE (src, dst)
    aggregation; the iterations run on the host graph. Oracle replays
    the identical integer recurrence as chained CTEs."""
    from sketchlib.graphops import host_pagerank

    return host_pagerank(_docs(spark, sf_dir))


def _para_dedup_ctes(src: str, text_out: str = "kept_text") -> tuple[str, str]:
    """(CTE fragments, final SELECT) for the paragraph-dedup chain over
    ``src`` (any relation yielding doc_id, text) — shared by the
    standalone entry and the composed web pipeline oracle."""
    from sketchlib.textops import _rx, norm_ws_sql

    nl = _rx("duckdb", r"\n+")
    norm = norm_ws_sql("duckdb", "para")
    ctes = f"""pd_d AS (SELECT doc_id, string_split_regex(text, {nl}) AS a
           FROM {src} WHERE text IS NOT NULL AND doc_id IS NOT NULL),
pd_p0 AS (SELECT doc_id, i - 1 AS pos, a[i] AS para
       FROM pd_d, UNNEST(range(1, len(a) + 1)) AS u(i)),
pd_p AS (SELECT * FROM (SELECT doc_id, pos, para, {norm} AS nrm FROM pd_p0)
      WHERE nrm <> ''),
pd_k AS (SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY nrm ORDER BY doc_id, pos) = 1 AS keep
      FROM pd_p)"""
    select = f"""SELECT doc_id,
  coalesce(string_agg(para, chr(10) ORDER BY pos) FILTER (WHERE keep), '') AS {text_out},
  CAST(count(*) AS BIGINT) AS n_paras,
  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM pd_k GROUP BY 1"""
    return ctes, select


def _para_dedup_oracle() -> str:
    ctes, select = _para_dedup_ctes("documents")
    return f"WITH {ctes}\n{select}"


@register("dedup_paragraphs", _para_dedup_oracle())
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma/C4-style corpus-wide exact paragraph dedup: keep the
    globally-first occurrence of each normalized paragraph, reassemble
    docs from survivors in order. 8-byte hash exchange for the
    first-occurrence window, one doc_id reassembly shuffle. The oracle
    replays the identical split/normalize/window/ordered-agg chain."""
    from sketchlib.dedup import paragraph_dedup

    return paragraph_dedup(_docs(spark, sf_dir))


@register("streaming_paragraph_dedup_replay", _para_dedup_oracle())
def streaming_paragraph_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming paragraph-dedup sink under the DRIVER gate:
    replay the corpus as doc_id-ordered micro-batches through
    ``incremental_paragraph_dedup_sink`` — probe the committed cuckoo
    state, keep within-batch first occurrences, fold kept paragraphs
    back — and compare the union of emitted batches against the BATCH
    operator's SQL oracle. With doc_id-ordered arrival the stream is
    contracted to equal batch ``paragraph_dedup`` exactly (module
    docstring of streaming.py), so the repo's most reference-distinctive
    state (exact-deletion cuckoo membership) gets a hard driver row.

    Replay-harness notes: the ntile(4) global sort builds the ordered
    micro-batches and belongs to the HARNESS (a real stream's batches
    arrive from the source already ordered by ingestion); fp32
    fingerprints make the probe's false-positive mass ~0 at gate scale
    (a FP would drop a novel paragraph — the documented Dolma trade);
    state/output live in run-scoped dirs, the result is eagerly
    materialized, and both dirs are discarded before returning
    (sink_roundtrip hermeticity discipline)."""
    import os as _os

    from pyspark.sql import Window

    from sketchlib.cache import discard, run_scoped_path
    from sketchlib.kernels.cuckoo import size_for
    from sketchlib.spark.cuckoo import CuckooSpec
    from sketchlib.streaming import incremental_paragraph_dedup_sink

    batched = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .withColumn("__b", F.ntile(4).over(Window.orderBy("doc_id")))
        .localCheckpoint(eager=True)  # 4 batch filters consume it
    )
    spec = CuckooSpec(
        name="parareplay", size=size_for(262_144, 4), fpsize=4, num_shards=8
    )
    state_dir = run_scoped_path("parareplay_state")
    out_dir = run_scoped_path("parareplay_out")
    sink = incremental_paragraph_dedup_sink(spec, state_dir, out_dir)
    for epoch in range(4):
        sink(batched.where(F.col("__b") == epoch + 1).drop("__b"), epoch)
    out = (
        spark.read.parquet(_os.path.join(out_dir, "batch_epoch*"))
        .select("doc_id", "kept_text", "n_paras", "n_kept")
        .localCheckpoint(eager=True)
    )
    discard(state_dir)
    discard(out_dir)
    return out


def _webpipe_ctes(text_out: str = "final_text") -> str:
    """The composed five-stage CTE chain (through wp_scored and the
    paragraph CTEs) — shared by the e2e oracle and the funnel oracle."""
    from sketchlib.htmlops import html_cte_sql, synth_html_sql
    from sketchlib.textops import classifier_score_sql
    from sketchlib.urlops import HOST_RX, blocklist_sql, canonical_url_cte_sql

    url_withs, url_last = canonical_url_cte_sql("duckdb", _url_source_sql())
    url_ctes = url_withs[len("WITH ") :]
    html_withs, html_last = html_cte_sql(
        "duckdb",
        f"SELECT d.doc_id, {synth_html_sql('duckdb')} AS html "
        "FROM documents d JOIN wp_surv USING (doc_id) "
        "WHERE d.doc_id IS NOT NULL AND d.text IS NOT NULL",
        blocks=True,
    )
    html_ctes = html_withs[len("WITH ") :]
    para_ctes, para_select = _para_dedup_ctes("wp_scored", text_out=text_out)
    return f"""
WITH {url_ctes},
wp_keep AS (SELECT min(doc_id) AS doc_id FROM {url_last} GROUP BY canonical_url),
wp_hosts AS (SELECT u.doc_id,
               regexp_extract(u.canonical_url, '{HOST_RX}', 1) AS host
             FROM {url_last} u JOIN wp_keep k ON k.doc_id = u.doc_id),
wp_bl AS ({blocklist_sql('duckdb')}),
wp_surv AS (SELECT doc_id FROM wp_hosts h
            WHERE NOT EXISTS (SELECT 1 FROM wp_bl
                              WHERE wp_bl.host IS NOT DISTINCT FROM h.host)),
{html_ctes},
wp_text AS (SELECT doc_id, block_text AS text FROM {html_last}),
wp_scored AS (SELECT doc_id, text FROM wp_text
              WHERE ({classifier_score_sql('duckdb')}) >= 0),
{para_ctes},
wp_final AS ({para_select})"""


def _webpipe_oracle() -> str:
    return f"{_webpipe_ctes()}\nSELECT * FROM wp_final"


@register("web_curation_pipeline_e2e", _webpipe_oracle())
def web_curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The five webtext stages composed end-to-end (url keep-first →
    blocklist → HTML block extraction → classifier gate → corpus-wide
    paragraph dedup) — exercises the stage INTERACTIONS: the extractor's
    shared nav/footer boilerplate lines are exactly what the paragraph
    stage must strip corpus-wide. The oracle is ONE composed CTE chain
    re-deriving every stage (curation_pipeline_e2e precedent)."""
    from sketchlib.webpipe import web_curation_pipeline

    return web_curation_pipeline(spark, _docs(spark, sf_dir))


def _funnel_oracle() -> str:
    from sketchlib.textops import token_count_sql

    tok = token_count_sql("duckdb")

    def stage(name: str, src: str) -> str:
        return (
            f"SELECT '{name}' AS stage, CAST(count(*) AS BIGINT) AS n_docs, "
            f"CAST(coalesce(sum({tok}), 0) AS BIGINT) AS n_tokens FROM {src}"
        )

    srcs = [
        ("0_input", "(SELECT doc_id, text FROM documents WHERE text IS NOT NULL) s0"),
        ("1_url_dedup",
         "(SELECT d.doc_id, d.text FROM documents d JOIN wp_keep USING (doc_id) "
         "WHERE d.text IS NOT NULL) s1"),
        ("2_blocklist",
         "(SELECT d.doc_id, d.text FROM documents d JOIN wp_surv USING (doc_id) "
         "WHERE d.text IS NOT NULL) s2"),
        ("3_classifier", "wp_scored"),
        ("4_paragraph_dedup", "wp_final"),
    ]
    body = "\nUNION ALL\n".join(stage(n, s) for n, s in srcs)
    return f"{_webpipe_ctes(text_out='text')}\n{body}"


@register("curation_funnel_stats", _funnel_oracle())
def curation_funnel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability: documents and whitespace tokens surviving
    each of the five web-curation stage boundaries — the funnel table
    every production run reports. Five global aggregates over the shared
    stage relations; exchanges carry one partial row per task."""
    from sketchlib.webpipe import curation_funnel

    return curation_funnel(spark, _docs(spark, sf_dir))


def _html_source_sql() -> str:
    from sketchlib.htmlops import synth_html_sql

    return (
        f"SELECT doc_id, {synth_html_sql('duckdb')} AS html "
        "FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL"
    )


def _html_text_oracle() -> str:
    from sketchlib.htmlops import html_cte_sql

    withs, last = html_cte_sql("duckdb", _html_source_sql())
    return (
        f"{withs} SELECT doc_id, main_text, "
        f"CAST(length(html) AS BIGINT) AS n_chars_html, "
        f"CAST(length(main_text) AS BIGINT) AS n_chars_text FROM {last}"
    )


@register("html_extract_text", _html_text_oracle())
def html_extract_text_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET-from-WARC extraction over the deterministic synthetic page
    fixture (document text entity-encoded into the body, boilerplate +
    script/style/comment toggled by a variant hash): strip blocks, block
    tags → newline, tags → space, decode entities, normalize whitespace.
    Zero-shuffle codegen projection; the oracle runs the SAME staged
    fragments as CTEs (urlops discipline). Extraction is round-trip
    exact on the payload — property-tested in test_htmlops."""
    from sketchlib.htmlops import html_extract_text

    return html_extract_text(_docs(spark, sf_dir))


def _html_links_oracle() -> str:
    from sketchlib.htmlops import _HREF_RX
    from sketchlib.textops import _rx

    lit = _rx("duckdb", _HREF_RX)
    # COALESCE: DuckDB array_to_string([]) is NULL (string_agg semantics)
    # where Spark concat_ws yields '' — a zero-link page must serialize
    # as '' in both engines. html itself is never NULL here: both sides'
    # sources DROP NULL doc_id/text rows (with_synth_html's filter ≡ the
    # oracle source's WHERE), so no NULL branch exists.
    return (
        f"WITH p AS ({_html_source_sql()}) "
        f"SELECT doc_id, "
        f"COALESCE(array_to_string(regexp_extract_all(html, {lit}, 1), chr(31)), '') "
        f"AS hrefs_joined, "
        f"CAST(len(regexp_extract_all(html, {lit}, 1)) AS BIGINT) AS n_links FROM p"
    )


@register("html_extract_links", _html_links_oracle())
def html_extract_links_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction (the web-graph edge stage): href values in
    document order — zero-shuffle projection, no explode; the graph
    build downstream joins on the canonicalized target, not here.

    Gate shape: the library API
    (htmlops.html_extract_links) returns hrefs as array<string>; the gate
    joins them on an unencodable separator (chr(31) — cannot appear in an
    href attribute value extracted by the regex, which excludes '"' only,
    but the SAME serialization runs in both engines so even a separator
    collision is order-exact). NULL doc_id/text rows drop on both sides
    (the synth-html fixture's filter), so hrefs is never NULL here."""
    from sketchlib.htmlops import html_extract_links

    return html_extract_links(_docs(spark, sf_dir)).select(
        "doc_id",
        F.concat_ws("\x1f", F.col("hrefs")).alias("hrefs_joined"),
        "n_links",
    )


_LM_ORACLE = """
WITH toks AS (SELECT doc_id, {ta} AS a FROM documents WHERE text IS NOT NULL),
bg AS (SELECT doc_id, unnest(CASE WHEN len(a) < 2 THEN []::VARCHAR[]
        ELSE list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1]) END) AS bigram
       FROM toks),
m AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1),
t AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM m),
p AS (SELECT bigram, c * 1000000 // tot AS pq FROM m, t)
SELECT doc_id, CAST(sum(pq) AS BIGINT) AS lm_score_q,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(CAST(sum(pq) AS BIGINT) // count(*) AS BIGINT) AS lm_avg_q
FROM bg JOIN p USING (bigram) GROUP BY 1
"""


def _lm_oracle() -> str:
    from sketchlib.textops import token_array_expr

    return _LM_ORACLE.format(ta=token_array_expr("duckdb"))


@register("lm_bigram_scores", _lm_oracle())
def lm_bigram_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring, self-fit on the corpus: bigram
    probabilities quantized to integers (count * 1e6 div total — engine-
    exact), each doc scored as the sum over its bigram occurrences. One
    bigram shuffle (map-side combined), model broadcast back onto the
    occurrence stream, final groupBy on 8-byte doc_ids. Docs with < 2
    tokens drop (no bigrams), matching the oracle's inner join."""
    from sketchlib.textops import bigram_lm_scores

    return bigram_lm_scores(_docs(spark, sf_dir))


def _charset_oracle() -> str:
    from sketchlib.textops import charset_profile_cols

    cols = charset_profile_cols("duckdb")
    keep = cols.pop("charset_keep")
    inner = ", ".join(f"{v} AS {k}" for k, v in cols.items())
    return (
        f"SELECT *, {keep} AS charset_keep FROM "
        f"(SELECT doc_id, {inner} FROM documents WHERE text IS NOT NULL)"
    )


@register("doc_charset_profile", _charset_oracle())
def doc_charset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset/script profiling + mojibake detection (the RefinedWeb
    encoding-sanity stage): per-class codepoint counts via codepoint-
    RANGE regex classes only (\\x{{...}} resolves identically in Java
    regex and RE2; named script properties don't), replacement-char and
    stray-control detection driving the keep-decision. Zero-shuffle
    codegen projection; all-integer engine-exact."""
    from sketchlib.textops import with_charset_profile

    return with_charset_profile(_docs(spark, sf_dir))


_CCNET_ORACLE = """
WITH toks AS (SELECT doc_id, {ta} AS a FROM documents WHERE text IS NOT NULL),
bg AS (SELECT doc_id, unnest(CASE WHEN len(a) < 2 THEN []::VARCHAR[]
        ELSE list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1]) END) AS bigram
       FROM toks),
m AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1),
t AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM m),
p AS (SELECT bigram, c * 1000000 // tot AS pq FROM m, t),
s AS (SELECT doc_id,
        CAST(CAST(sum(pq) AS BIGINT) // count(*) AS BIGINT) AS lm_avg_q
      FROM bg JOIN p USING (bigram) GROUP BY 1),
d AS (SELECT s.doc_id, doc.lang, s.lm_avg_q
      FROM s JOIN documents doc USING (doc_id)),
h AS (SELECT lang, lm_avg_q, CAST(count(*) AS BIGINT) AS c
      FROM d GROUP BY 1, 2),
h2 AS (SELECT lang, lm_avg_q,
         CAST(sum(c) OVER (PARTITION BY lang ORDER BY lm_avg_q DESC) - c
              AS BIGINT) AS cb,
         CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n
       FROM h),
b AS (SELECT lang, lm_avg_q,
        CASE WHEN cb * 3 < n THEN 'head'
             WHEN cb * 3 < 2 * n THEN 'middle'
             ELSE 'tail' END AS ppl_bucket
      FROM h2)
SELECT d.doc_id, d.lang, d.lm_avg_q, b.ppl_bucket,
       b.ppl_bucket <> 'tail' AS ccnet_keep
FROM d JOIN b ON d.lang IS NOT DISTINCT FROM b.lang
             AND d.lm_avg_q = b.lm_avg_q
"""


def _ccnet_oracle() -> str:
    from sketchlib.textops import token_array_expr

    return _CCNET_ORACLE.format(ta=token_array_expr("duckdb"))


@register("ccnet_ppl_buckets", _ccnet_oracle())
def ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing per language (Wenzek
    2019), built skew-safe: a bounded per-(lang, quantized-score)
    histogram carries the cumulative thirds, never a per-lang row window
    over the corpus; ties stay in one bucket (threshold semantics). The
    lang join-back is NULL-SAFE so NULL-lang docs bucket among
    themselves instead of silently dropping."""
    from sketchlib.textops import ccnet_buckets

    return ccnet_buckets(_docs(spark, sf_dir))


@register("quality_classifier_scores", _classifier_oracle())
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear quality classifier (Joulin 2016 shape):
    tokens hash into 1024 feature buckets, the doc score is the integer
    sum of bucket weights (weight table derived bit-portably from the
    bucket id — a trained model ships the same table shape). ONE
    zero-shuffle codegen projection: no explode, no groupBy, the token
    array referenced once per row (r3 CollapseProject rule). Score and
    keep-decision are engine-exact integers."""
    from sketchlib.textops import with_classifier_score

    return with_classifier_score(_docs(spark, sf_dir)).select(
        "doc_id", "quality_score", "quality_keep"
    )


@register(
    "doc_rolling_fingerprint",
    f"SELECT doc_id, {rolling_fingerprint_sql('duckdb')} AS rolling_fp FROM documents",
)
def doc_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling-hash fingerprint, folded char by
    char with higher-order list functions in BOTH engines (identical
    left-to-right modular arithmetic is what the gate hashes)."""
    return with_rolling_fingerprint(_docs(spark, sf_dir))


def _repetition_oracle() -> str:
    ta = token_array_expr("duckdb")
    return f"""
WITH base AS (
  SELECT doc_id, {ta} AS a
  FROM documents),
tc AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (SELECT doc_id, unnest(a) AS tok FROM base) GROUP BY 1, 2),
ts AS (
  SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_uniq FROM tc GROUP BY 1),
gc AS (
  SELECT doc_id, gram, count(*) AS c
  FROM (SELECT doc_id, unnest(CASE WHEN len(a) < 2 THEN []::VARCHAR[] ELSE
          list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1]) END) AS gram
        FROM base) GROUP BY 1, 2),
gs AS (
  SELECT doc_id, sum(c) AS n_grams, max(c) AS top_c FROM gc GROUP BY 1)
SELECT d.doc_id,
  CAST(coalesce(ts.n_tokens, 0) AS BIGINT) AS n_tokens,
  CASE WHEN coalesce(ts.n_tokens, 0) = 0 THEN CAST(0.0 AS DOUBLE)
       ELSE CAST(ts.n_tokens - ts.n_uniq AS DOUBLE) / ts.n_tokens END AS dup_token_frac,
  CASE WHEN coalesce(gs.n_grams, 0) = 0 THEN CAST(0.0 AS DOUBLE)
       ELSE CAST(gs.top_c AS DOUBLE) / gs.n_grams END AS top_2gram_frac
FROM documents d LEFT JOIN ts USING (doc_id) LEFT JOIN gs USING (doc_id)
"""


@register("doc_repetition_stats", _repetition_oracle())
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (dup-token fraction, top-
    2-gram fraction) — the DuckDB oracle re-derives the same two-level
    grouped counts, so the gate checks the full algorithm, not a recall."""
    from sketchlib.textops import with_repetition_stats

    return with_repetition_stats(_docs(spark, sf_dir))


def _span_oracle(n: int = 5) -> str:
    ta = token_array_expr("duckdb")
    return f"""
WITH base AS (
  SELECT doc_id, {ta} AS a
  FROM documents),
pd AS (
  SELECT doc_id, span, count(*) AS c
  FROM (SELECT doc_id, unnest(CASE WHEN len(a) < {n} THEN []::VARCHAR[] ELSE
          list_transform(range(1, len(a) - {n} + 2),
                         i -> array_to_string(a[i:i+{n - 1}], ' ')) END) AS span
        FROM base) GROUP BY 1, 2),
sd AS (SELECT span, count(*) AS n_docs FROM pd GROUP BY 1),
st AS (
  SELECT doc_id, sum(c) AS n_spans,
         sum(CASE WHEN n_docs >= 2 THEN c ELSE 0 END) AS dup_spans
  FROM pd JOIN sd USING (span) GROUP BY 1)
SELECT d.doc_id,
  CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
  CAST(coalesce(st.dup_spans, 0) AS BIGINT) AS dup_spans,
  CASE WHEN coalesce(st.n_spans, 0) = 0 THEN CAST(0.0 AS DOUBLE)
       ELSE CAST(st.dup_spans AS DOUBLE) / st.n_spans END AS dup_span_frac
FROM documents d LEFT JOIN st USING (doc_id)
"""


@register("cross_doc_span_dedup", _span_oracle())
def cross_doc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document span duplication (5-gram spans shared with
    another doc) — contamination/boilerplate signal; oracle re-derives the
    identical span counts and doc frequencies in DuckDB."""
    from sketchlib.dedup import cross_doc_span_stats

    return cross_doc_span_stats(_docs(spark, sf_dir), n=5)


def _pii_injected(dialect: str) -> str:
    """Deterministic doc-derived contact strings appended to the text: the
    synthetic corpus carries no PII, so the gate query injects one email /
    phone / IPv4 per doc before scrubbing — the OPERATOR under test is the
    scrub; the injection just gives the oracle nonzero signal."""
    # every doc_id cast rides in a coalesce: Spark concat NULL-propagates
    # where DuckDB concat skips NULLs (the CLAUDE.md trap) — a NULL doc_id
    # must inject the same string in both engines (r7 fuzz NULL-id row)
    s = "STRING" if dialect == "spark" else "VARCHAR"
    i = f"coalesce(CAST(doc_id AS {s}), '')"
    return (
        f"concat(coalesce(text, ''), ' contact user', {i}, '@example.com"
        f" or +1 555-010', coalesce(CAST(doc_id % 10 AS {s}), ''),"
        f" ' at 10.0.', coalesce(CAST(doc_id % 256 AS {s}), ''), '.', "
        f"coalesce(CAST(doc_id % 100 AS {s}), ''))"
    )


def _pii_oracle() -> str:
    from sketchlib.textops import pii_scrub_sql

    scrub, counts = pii_scrub_sql("duckdb", col="__inj")
    return (
        f"WITH t AS (SELECT doc_id, {_pii_injected('duckdb')} AS __inj FROM documents) "
        f"SELECT doc_id, {scrub} AS scrubbed, {', '.join(counts)} FROM t"
    )


@register("doc_pii_scrub", _pii_oracle())
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction with per-rule match counts — identical regex rules and
    replacement order run in both engines (only the literal-escaping and
    'g'-flag dialect splits differ)."""
    from sketchlib.textops import with_pii_scrub

    inj = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{_pii_injected('spark')} AS __inj"
    )
    return with_pii_scrub(inj, col="__inj")


def _top_terms_oracle(k: int = 3) -> str:
    ta = token_array_expr("duckdb")
    return f"""
WITH base AS (
  SELECT doc_id, {ta} AS a
  FROM documents),
tc AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(a) AS term FROM base) GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tc GROUP BY 1),
scored AS (
  SELECT doc_id, term, tf, df, CAST(tf AS DOUBLE) / df AS score,
         row_number() OVER (PARTITION BY doc_id ORDER BY CAST(tf AS DOUBLE) / df DESC, term) AS rank
  FROM tc JOIN dfreq USING (term))
SELECT doc_id, CAST(rank AS INT) AS rank, term, CAST(tf AS BIGINT) AS tf,
       CAST(df AS BIGINT) AS df, score
FROM scored WHERE rank <= {k}
"""


@register("doc_top_terms", _top_terms_oracle())
def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 characteristic terms by log-free TF-IDF (tf/df — IEEE
    division is bit-identical cross-engine, unlike ln); DuckDB re-derives
    the same counts, join, and window ranking."""
    from sketchlib.textops import top_terms

    return top_terms(_docs(spark, sf_dir), k=3)


def _gopher_oracle() -> str:
    reason = (
        "CASE WHEN n_tokens < 10 THEN 'too_short' "
        "WHEN n_tokens > 100000 THEN 'too_long' "
        "WHEN dup_token_frac > 0.55 THEN 'dup_tokens' "
        "WHEN top_2gram_frac > 0.1 THEN 'top_2gram' "
        "ELSE 'keep' END"
    )
    return (
        f"SELECT doc_id, ({reason}) = 'keep' AS keep, {reason} AS reason "
        f"FROM ({_repetition_oracle()})"
    )


@register("quality_filter_gopher", _gopher_oracle())
def quality_filter_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule keep/drop gate (length + repetition thresholds, first
    failing rule = drop reason) over the repetition stats."""
    from sketchlib.textops import gopher_quality_filter

    return gopher_quality_filter(_docs(spark, sf_dir))


@register(
    "simhash_fingerprints",
    # 'has at least one token' — NOT length(trim(..)) > 0: trim strips only
    # spaces in both engines, so whitespace-with-tabs text would count as
    # non-empty while producing zero \s+ tokens (fuzz-gate finding).
    # doc_id IS NOT NULL: the agreement check joins the two implementations
    # ON doc_id — NULL keys never equi-join, so a NULL-id doc would emit
    # two un-matched rows vs the oracle's one (r7 fuzz NULL-id row)
    r"SELECT doc_id, TRUE AS impl_agree FROM documents "
    r"WHERE regexp_matches(text, '\S') AND doc_id IS NOT NULL",
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash cross-implementation gate (the builtin_sketch_crosscheck
    pattern): the Catalyst bit-majority SimHash (textops.with_simhash) must
    equal an INDEPENDENT numpy majority-vote over the same token hashes for
    every document — the oracle asserts per-doc agreement, turning the
    Spark-native operator (xxhash64 has no DuckDB equivalent) into a fully
    hash-gated query. Fingerprint consumers use with_simhash directly.
    NULL doc_ids drop (the join-key contract — see the oracle comment)."""
    import numpy as np
    import pandas as pd

    from sketchlib.util import i64_to_u64

    docs = _docs(spark, sf_dir).where(F.col("doc_id").isNotNull())
    spark_sim = with_simhash(docs)
    toks = (
        docs.select("doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
        .filter(F.length("tok") > 0)
        .select("doc_id", F.xxhash64("tok").alias("h"))
    )

    def vote(pdf: pd.DataFrame) -> pd.DataFrame:
        h = i64_to_u64(pdf["h"].to_numpy())
        bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int64)
        votes = (2 * bits - 1).sum(axis=0)
        val = 0
        for b in range(64):
            if votes[b] > 0:
                val |= 1 << b
        if val >= 1 << 63:
            val -= 1 << 64  # two's-complement wrap to match Spark's long
        return pd.DataFrame({"doc_id": [int(pdf["doc_id"].iloc[0])], "np_simhash": [val]})

    indep = toks.groupBy("doc_id").applyInPandas(vote, "doc_id long, np_simhash long")
    return spark_sim.join(indep, "doc_id", "outer").select(
        "doc_id", (F.col("simhash") == F.col("np_simhash")).alias("impl_agree")
    )


# -------------------------------------------------------------- dedup

@register(
    "dedup_exact_docs",
    f"SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS group_size "
    f"FROM documents GROUP BY {norm_text_sql('duckdb')}",
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sketchlib.dedup import dedup_exact

    return dedup_exact(_docs(spark, sf_dir))


_JACCARD_CTES = r"""toks AS (
  SELECT doc_id, string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents),
bg AS (
  SELECT DISTINCT doc_id, bigram
  FROM toks, UNNEST(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS t(bigram)
  WHERE len(w) >= 2),
sz AS (SELECT doc_id, COUNT(*) AS s FROM bg GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM bg a JOIN bg b USING (bigram) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
jp AS (
  SELECT doc_a, doc_b,
         CAST(FLOOR(i * 1.0 / (sa.s + sb.s - i) * 1000000) AS BIGINT) AS jaccard_e6
  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
  WHERE i * 1.0 / (sa.s + sb.s - i) >= 0.5)"""

_JACCARD_ORACLE = f"WITH {_JACCARD_CTES} SELECT doc_a, doc_b, jaccard_e6 FROM jp"


@register("dedup_ngram_jaccard", _JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-bigram Jaccard near-dup pairs at threshold 0.5 (the exact
    verifier the LSH methods are checked against)."""
    from sketchlib.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)


# DOUBLE[] casts: duckdb's float32 list kernels differ from Spark's double
# fold by ~1 ulp, which flips 4th-decimal roundings
_EMB_DUP_ORACLE = f"""
WITH pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                CAST(b.embedding AS DOUBLE[])) AS c
  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
    AND {valid_embedding_sql('a.embedding')} AND {valid_embedding_sql('b.embedding')})
SELECT vec_a, vec_b, CAST(FLOOR(ROUND(c, 4) * 10000) AS BIGINT) AS cosine_e4
FROM pairs WHERE c >= 0.3
"""


@register("dedup_embedding_cosine", _EMB_DUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact brute force — the
    baseline the LSH variant is checked against). Cosines integerized at
    4dp for cross-engine hash stability."""
    from sketchlib.dedup import embedding_near_dups

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_near_dups(emb, threshold=0.3)


# oracle = the full exact-Jaccard pairs: the LSH run is deterministic
# (fixed xxhash64 banding) and its 16-band s-curve recall at t=0.5 is
# 1-(1-0.5^4)^16 ≈ 0.9997 — on this data the candidate set provably covers
# every qualifying pair (verified at sf0.001/0.01/0.1), so candidates +
# exact verification reproduce the exact result precisely
@register("dedup_minhash_lsh", _JACCARD_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs at t=0.5: banded signature self-join for
    candidates, exact bigram Jaccard computed ONLY over candidates (cost ∝
    |candidates|, never corpus² — see dedup.minhash_lsh_pairs)."""
    from sketchlib.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5)


# connected components over the near-dup pairs: the oracle computes the
# same min-label components with a recursive CTE over the SAME exact-
# Jaccard pair CTEs — full algorithm parity for the survivor-selection
# stage. Both the iterative min-label algorithm and the small/large-star
# algorithm must produce THIS closure, so the composite gate entry emits
# the same MIN(lbl) under both column names.
_CLUSTER_ORACLE = f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (SELECT doc_a AS a, doc_b AS b FROM jp UNION SELECT doc_b, doc_a FROM jp),
walk(id, lbl) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges) n(a)
  UNION
  SELECT e.a, w.lbl FROM edges e JOIN walk w ON w.id = e.b)
SELECT id AS doc_id, MIN(lbl) AS cluster_id, MIN(lbl) AS cluster_id_star
FROM walk GROUP BY id
"""


@register("dedup_clusters_cc_star", _CLUSTER_ORACLE)
def dedup_clusters_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup survivor selection by BOTH clustering algorithms in one
    gate entry (consolidates the r6-green dedup_clusters +
    dedup_clusters_star singletons):
    connected components over the exact bigram-Jaccard pairs (t=0.5) via
    iterative min-label propagation (cluster_id) and via small-star/
    large-star (cluster_id_star — O(log² n) rounds, diameter-independent,
    the 10^12-scale escalation), joined on doc_id; the oracle's
    recursive-CTE reachability closure must equal both columns. The pair
    set is localCheckpointed before the two-consumer fan-out (CLAUDE.md
    materialize-before-fanout rule)."""
    from sketchlib.dedup import near_dup_clusters, ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5).localCheckpoint(
        eager=True
    )
    cc = near_dup_clusters(pairs)
    star = near_dup_clusters(pairs, algorithm="star").withColumnRenamed(
        "cluster_id", "cluster_id_star"
    )
    return cc.join(star, "doc_id")


_EMB_DIM = 64  # embeddings.parquet dimension at every sf (TESTDATA.md)


def _plane_lits(n_planes: int, seed: int = 42) -> list[str]:
    """The sign-LSH hyperplanes as DuckDB DOUBLE[] literals — repr() floats
    round-trip exactly, so DuckDB folds the SAME doubles as Spark."""
    from sketchlib.similarity import hyperplanes

    return [
        "[" + ", ".join(repr(float(x)) for x in plane) + "]::DOUBLE[]"
        for plane in hyperplanes(_EMB_DIM, n_planes, seed)
    ]


def _emb_lsh_oracle(threshold: float, n_planes: int = 16, bands: int = 4) -> str:
    """Independent DuckDB implementation of the SAME banded sign-LSH dedup:
    sign bits from literal hyperplanes, candidate pairs = any band of bit
    equalities, exact cosine re-score — algorithm-level parity, not a
    recall coincidence."""
    planes = _plane_lits(n_planes)
    r = n_planes // bands
    bit_cols = ", ".join(
        f"CASE WHEN list_dot_product(v, {planes[p]}) > 0 THEN 1 ELSE 0 END AS b{p}"
        for p in range(n_planes)
    )
    band_conds = " OR ".join(
        "(" + " AND ".join(f"a.b{b * r + i} = b.b{b * r + i}" for i in range(r)) + ")"
        for b in range(bands)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE {valid_embedding_sql('embedding')}),
sig AS (SELECT vec_id, v, {bit_cols} FROM e),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_cosine_similarity(a.v, b.v) AS c
  FROM sig a JOIN sig b ON a.vec_id < b.vec_id AND ({band_conds}))
SELECT vec_a, vec_b, CAST(FLOOR(ROUND(c, 4) * 10000) AS BIGINT) AS cosine_e4
FROM pairs WHERE c >= {threshold}
"""


@register("dedup_embedding_lsh", _emb_lsh_oracle(0.3))
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded sign-LSH embedding near-dup pairs — the SCALE path (bucketed
    candidate self-join + exact double-precision re-score of candidates
    only; the brute-force dedup_embedding_cosine is its baseline). The
    oracle re-implements the identical deterministic LSH in DuckDB from
    literal hyperplanes, so the gate checks algorithm-level parity of the
    candidate generation AND the exact re-score (recall vs brute force is
    measured separately in tests/test_dedup.py)."""
    from sketchlib.dedup import embedding_lsh_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_lsh_pairs(emb, threshold=0.3, n_planes=16, bands=4)


@register(
    "hll_distinct_docs_per_lang",
    # NULL group keys are dropped by the grouped sketch build (coalesce to
    # a sentinel upstream to keep a NULL bucket)
    "SELECT lang, COUNT(DISTINCT doc_id) AS exact_distinct, TRUE AS within_bound "
    "FROM documents WHERE lang IS NOT NULL GROUP BY lang",
)
def hll_distinct_docs_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped sketches: one HLL per language (map-side partials, one merge),
    each estimate checked against the exact per-group distinct count."""
    import numpy as np

    from sketchlib.spark.agg import SketchSpec, build_sketch_grouped, grouped_estimates

    docs = _docs(spark, sf_dir).filter(F.col("lang").isNotNull())
    spec = SketchSpec("g-hll-lang", "hll", (12,))
    grouped = build_sketch_grouped(docs, "lang", spec, "doc_id")
    est = {r["lang"]: r["estimate"] for r in grouped_estimates(grouped, spec, "lang").collect()}
    exact = {
        r["lang"]: r["d"]
        for r in docs.groupBy("lang").agg(F.countDistinct("doc_id").alias("d")).collect()
    }
    bound = 3 * 1.04 / np.sqrt(1 << 12) + 0.02
    rows = [
        (lang, exact[lang], bool(abs(est[lang] - exact[lang]) / max(exact[lang], 1) <= bound))
        for lang in exact
    ]
    return spark.createDataFrame(rows, "lang string, exact_distinct long, within_bound boolean")


@register(
    "tdigest_median_per_type",
    # the sketch contract excludes NULL/NaN/Inf values, so only event types
    # with at least one finite value carry an estimate
    "SELECT event_type, TRUE AS rank_ok FROM events "
    "WHERE isfinite(value) AND event_type IS NOT NULL GROUP BY event_type",
)
def tdigest_median_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped quantile sketches: one t-digest per event_type (map-side
    partials, one merge), each median estimate rank-checked against the
    exact per-group distribution in a single pass (|rank − 0.5| ≤ 0.02)."""
    from sketchlib.queries import _events
    from sketchlib.spark.agg import (
        SketchSpec,
        build_sketch_grouped,
        finite_values,
        grouped_estimates,
    )

    ev = _events(spark, sf_dir).filter(
        finite_values("value") & F.col("event_type").isNotNull()
    )
    spec = SketchSpec("g-td-type", "tdigest", (200,))
    grouped = build_sketch_grouped(ev, "event_type", spec, "value")
    est = {
        r["event_type"]: float(r["estimate"])
        for r in grouped_estimates(grouped, spec, "event_type").collect()
    }
    mapping = F.create_map(*[x for k, v in est.items() for x in (F.lit(k), F.lit(v))])
    # rank interval [rank(<est), rank(<=est)] per group: on tied data one
    # value can span more mass than the tolerance, so the acceptance is
    # "0.5 falls inside the interval (±eps)"
    ranks = (
        ev.groupBy("event_type")
        .agg(
            (
                F.sum((F.col("value") < mapping[F.col("event_type")]).cast("long"))
                / F.count(F.lit(1))
            ).alias("r_lt"),
            (
                F.sum((F.col("value") <= mapping[F.col("event_type")]).cast("long"))
                / F.count(F.lit(1))
            ).alias("r_le"),
        )
        .collect()
    )
    rows = [
        (r["event_type"], bool(r["r_lt"] - 0.02 <= 0.5 <= r["r_le"] + 0.02))
        for r in ranks
    ]
    return spark.createDataFrame(rows, "event_type string, rank_ok boolean")


_INCR_ORACLE = (
    "WITH seen AS (SELECT {norm} AS nt FROM documents WHERE doc_id % 2 = 0) "
    # NOT EXISTS + IS NOT DISTINCT FROM, never NOT IN: one NULL
    # normalized text in the seen snapshot would empty a NOT-IN result
    # entirely, while the query treats NULL-equals-NULL - fuzz finding
    "SELECT d.doc_id FROM documents d "
    "WHERE d.doc_id % 2 = 1 AND NOT EXISTS "
    "(SELECT 1 FROM seen s WHERE s.nt IS NOT DISTINCT FROM {norm2})"
).format(norm=norm_text_sql("duckdb"), norm2=norm_text_sql("duckdb", "d.text"))


@register("incremental_dedup_new_docs", _INCR_ORACLE)
def incremental_dedup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup — the cuckoo filter doing its
    actual pipeline job: build an FP32 membership filter over the
    PREVIOUS snapshot's normalized-text fingerprints (even doc_ids), then
    stream the NEW snapshot (odd doc_ids) through a probe and keep only
    unseen documents. Exact-equivalent at FP32 (false-positive doc loss
    ≈ 9.3e-10, unobservable at gate scale — the oracle is the exact
    NOT IN and would surface one); at 100 TB the seen-store is a few GB
    of filter shards instead of a corpus-wide join."""
    from sketchlib.kernels.cuckoo import size_for
    from sketchlib.spark.cuckoo import CuckooSpec, ShardedCuckoo, build_filter_direct, probe
    from sketchlib.textops import norm_text_sql as _nts

    docs = _docs(spark, sf_dir)
    norm = _nts("spark")
    prev = docs.filter("doc_id % 2 = 0").selectExpr(f"{norm} AS nt")
    new = docs.filter("doc_id % 2 = 1").selectExpr("doc_id", f"{norm} AS nt")
    n, n_keyed = prev.agg(F.count(F.lit(1)), F.count("nt")).first()
    spec = CuckooSpec("incr-dedup", size_for(max(n, 1), 4), fpsize=4, num_shards=2)
    merged = build_filter_direct(prev, spec, key=F.col("nt"))
    sc = ShardedCuckoo.from_df(merged, spec)
    # the filter skips NULL keys: a NULL text was seen iff the previous snapshot has one
    return (
        probe(new, sc, key=F.col("nt"))
        .filter(~F.col("member") & (F.col("nt").isNotNull() | F.lit(n == n_keyed)))
        .select("doc_id")
    )


_PIPE_ORACLE = (
    "SELECT MIN(doc_id) AS doc_id FROM documents "
    f"WHERE {token_count_sql('duckdb')} BETWEEN 10 AND 100000 "
    f"GROUP BY {norm_text_sql('duckdb')}"
)


@register("training_pipeline_e2e", _PIPE_ORACLE)
def training_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data flow: quality-filter → exact dedup →
    build an FP32 cuckoo membership filter over survivors → probe the full
    corpus. The members returned must be exactly the dedup survivors (no
    false negatives; FP32 false positives unobservable)."""
    from sketchlib.dedup import dedup_exact
    from sketchlib.kernels.cuckoo import size_for
    from sketchlib.spark.cuckoo import CuckooSpec, ShardedCuckoo, build_filter_direct, probe

    docs = _docs(spark, sf_dir)
    ok = docs.selectExpr("doc_id", "text", f"{token_count_sql('spark')} AS tc").filter(
        "tc BETWEEN 10 AND 100000"
    )
    kept = dedup_exact(ok).select(F.col("keep_doc_id").alias("doc_id"))
    # sf-proof sizing: per-shard size from the actual corpus count (CF.SIZEFOR)
    spec = CuckooSpec(
        "pipe-e2e", size_for(max(docs.count(), 1), 4), fpsize=4, num_shards=2
    )
    merged = build_filter_direct(kept, spec, key=F.col("doc_id").cast("string"))
    sc = ShardedCuckoo.from_df(merged, spec)
    members = (
        probe(docs.select("doc_id"), sc, key=F.col("doc_id").cast("string"))
        .filter(F.col("member"))
        .select("doc_id")
    )
    # the filter skips NULL keys, so a survivor with a NULL id passes exactly
    return members.unionByName(kept.where(F.col("doc_id").isNull()))


# --------------------------------------------------------- similarity


@register(
    "ann_cosine_topk",
    "SELECT e.vec_id FROM embeddings e "
    f"WHERE {valid_embedding_sql('e.embedding')} "
    "ORDER BY ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), "
    "  (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 9) DESC, e.vec_id "
    "LIMIT 10",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the vec_id=0 query vector (exact ANN
    baseline; scores rounded to 9dp in both engines for stable ranking)."""
    from sketchlib.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    return cosine_topk(emb, qvec, k=10).select("vec_id")


def _ann_lsh_oracle(n_planes: int = 8, radius: int = 3, k: int = 10) -> str:
    """Independent DuckDB implementation of the SAME multiprobe sign-LSH
    top-k: sign bits from literal hyperplanes for corpus AND query, Hamming
    ≤ radius candidate filter, exact re-score — algorithm-level parity."""
    planes = _plane_lits(n_planes)
    e_bits = ", ".join(
        f"CASE WHEN list_dot_product(v, {planes[p]}) > 0 THEN 1 ELSE 0 END AS b{p}"
        for p in range(n_planes)
    )
    hamming = " + ".join(
        f"CASE WHEN s.b{p} <> t.b{p} THEN 1 ELSE 0 END" for p in range(n_planes)
    )
    return f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE {valid_embedding_sql('embedding')}),
sig AS (SELECT vec_id, v, {e_bits} FROM e),
qsig AS (SELECT {e_bits} FROM q),
cand AS (SELECT s.vec_id, s.v FROM sig s, qsig t WHERE ({hamming}) <= {radius})
SELECT c.vec_id FROM cand c, q
ORDER BY ROUND(list_cosine_similarity(c.v, q.v), 9) DESC, c.vec_id LIMIT {k}
"""


@register("ann_lsh_topk", _ann_lsh_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 against a MATERIALIZED sign-LSH signature table: the
    signature is computed once and written partitioned by its value; the
    probe filters the stored partition column to the query's Hamming ball
    (directory-level pruning — no per-query signature recompute) and
    exact-re-scores only those buckets. Cache is content-addressed +
    atomically published (sketchlib.cache); bump the
    version token on any plane-seed/validity-contract change."""
    from sketchlib.cache import content_cache_path, ensure_cached
    from sketchlib.similarity import lsh_cosine_topk_indexed, write_signature_table

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sig_path = content_cache_path(sf_dir, "emb_sig8", "v3", ["embeddings"])
    ensure_cached(
        sig_path, lambda tmp: write_signature_table(emb, tmp, n_planes=8, seed=42)
    )
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    return lsh_cosine_topk_indexed(spark, sig_path, qvec, k=10).select("vec_id")


def _ann_lsh_batch_oracle(qids=(0, 11, 42), n_planes: int = 8, radius: int = 2,
                          k: int = 10) -> str:
    """DuckDB re-implementation of the BATCH multiprobe sign-LSH top-k:
    corpus and query sign bits from literal hyperplanes, Hamming ≤ radius
    candidate join, exact re-score, per-query ROW_NUMBER top-k."""
    planes = _plane_lits(n_planes)
    bits = ", ".join(
        f"CASE WHEN list_dot_product(v, {planes[p]}) > 0 THEN 1 ELSE 0 END AS b{p}"
        for p in range(n_planes)
    )
    hamming = " + ".join(
        f"CASE WHEN s.b{p} <> t.b{p} THEN 1 ELSE 0 END" for p in range(n_planes)
    )
    ids = ", ".join(str(i) for i in qids)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE {valid_embedding_sql('embedding')}),
sig AS (SELECT vec_id, v, {bits} FROM e),
qsig AS (SELECT vec_id AS query_id, v AS qv, {bits}
         FROM (SELECT vec_id, v FROM e WHERE vec_id IN ({ids})) q(vec_id, v)),
cand AS (SELECT t.query_id, s.vec_id, s.v, t.qv FROM sig s, qsig t
         WHERE ({hamming}) <= {radius})
SELECT query_id, vec_id FROM (
  SELECT query_id, vec_id, ROW_NUMBER() OVER (
    PARTITION BY query_id
    ORDER BY ROUND(list_cosine_similarity(v, qv), 9) DESC, vec_id) AS rn
  FROM cand) WHERE rn <= {k}
"""


@register("ann_lsh_topk_batch", _ann_lsh_batch_oracle())
def ann_lsh_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH ANN: three query vectors at once through the signature
    equi-join (queries explode to their Hamming balls; never a per-query
    driver round-trip, never a cross join) — the realistic many-query
    shape at scale. Oracle re-derives the whole batch pipeline in DuckDB."""
    from sketchlib.similarity import lsh_cosine_topk_batch

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id").isin([0, 11, 42])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_cosine_topk_batch(qs, emb, k=10, n_planes=8, hamming_probe=2)
    return out.select("query_id", "vec_id")


_MIX_TARGETS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}


def _mix_oracle() -> str:
    vals = ", ".join(
        f"('{s}', CAST({f!r} AS DOUBLE))" for s, f in _MIX_TARGETS.items()
    )
    return f"""
WITH t(source, tf) AS (VALUES {vals}),
n AS (SELECT source, count(*) AS cnt FROM documents GROUP BY 1),
r AS (SELECT n.source, cnt, tf FROM n JOIN t USING (source)),
nout AS (SELECT min(cnt / tf) AS nout FROM r),
rates AS (SELECT source, tf * nout / cnt AS rate FROM r, nout)
SELECT d.doc_id, d.source FROM documents d JOIN rates USING (source)
WHERE rate >= 1.0 OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) <
      lpad(lower(to_hex(CAST(floor(rate * 1152921504606846976) AS BIGINT))), 15, '0')
"""


def _sampling_suite_oracle() -> str:
    """UNION ALL of the five sampler oracles (defined alongside their
    original entries through this module), relabeled onto the shared
    (sampler, doc_id, grp, priority) schema."""
    return f"""
SELECT 'det' AS sampler, doc_id, source AS grp, CAST(NULL AS DOUBLE) AS priority
FROM (SELECT doc_id, source FROM documents
      WHERE md5(CAST(doc_id AS VARCHAR)) < '28')
UNION ALL
SELECT 'strat', doc_id, lang, CAST(NULL AS DOUBLE)
FROM (SELECT doc_id, lang FROM documents
      QUALIFY ROW_NUMBER() OVER (PARTITION BY lang
        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 20)
UNION ALL
SELECT 'prio_lang', doc_id, lang, priority FROM ({_PRIORITY_STRAT_ORACLE})
UNION ALL
SELECT 'prio_global', doc_id, CAST(NULL AS VARCHAR), priority FROM ({_PRIORITY_ORACLE})
UNION ALL
SELECT 'mix', doc_id, source, CAST(NULL AS DOUBLE) FROM ({_mix_oracle()})
"""


def _sampling_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every sampling/selection operator in one labeled gate entry
    (consolidates the five r6-green singletons doc_sample_deterministic +
    stratified_sample_per_lang + priority_sample_per_lang +
    doc_priority_sample_weighted + source_mixing_sample;
    each operator keeps its own UNION ALL branch and
    its exact oracle, relabeled onto the shared (sampler, doc_id, grp,
    priority) schema):

    - 'det': md5-threshold held-out split (same rows on any engine/
      partitioning/run, plain pushed-down filter) — relops.sample_by_hash;
    - 'strat': ≤20 docs per language by hash order (balanced per-class
      split; one shuffle on the stratum key);
    - 'prio_lang': per-stratum exact-k priority sampling
      (Duffield-Lund-Thorup), top 10 per lang, BITWISE-equal priorities —
      relops.priority_sample_stratified (Arrow-batched local top-k per
      partition before the one stratum exchange);
    - 'prio_global': global top-50 priority sample — relops.priority_sample;
    - 'mix': domain-mixing resample to target source fractions (bottleneck
      source whole, others 60-bit-md5-thinned) — relops.mix_sources.

    Each branch is an independent job over the same corpus at scale; the
    union is gate packaging, not an operator."""
    from pyspark.sql import Window as W

    from sketchlib.relops import (
        mix_sources,
        priority_sample,
        priority_sample_stratified,
        sample_by_hash,
    )

    docs = _docs(spark, sf_dir)
    null_d = F.lit(None).cast("double")
    det = sample_by_hash(
        docs.select("doc_id", "source"), "CAST(doc_id AS STRING)", "28"
    ).select(
        F.lit("det").alias("sampler"), "doc_id",
        F.col("source").alias("grp"), null_d.alias("priority"),
    )
    w = W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    strat = (
        docs.select("doc_id", "lang")
        .withColumn("__rn", F.row_number().over(w))
        .filter("__rn <= 20")
        .select(
            F.lit("strat").alias("sampler"), "doc_id",
            F.col("lang").alias("grp"), null_d.alias("priority"),
        )
    )
    prio_lang = priority_sample_stratified(
        docs.select("doc_id", "lang", "text"), "CAST(length(text) AS DOUBLE)",
        k=10, key_sql="CAST(doc_id AS STRING)", stratum_col="lang",
    ).select(
        F.lit("prio_lang").alias("sampler"), "doc_id",
        F.col("lang").alias("grp"), "priority",
    )
    prio_global = priority_sample(
        docs, "CAST(length(text) AS DOUBLE)", k=50, key_sql="CAST(doc_id AS STRING)"
    ).select(
        F.lit("prio_global").alias("sampler"), "doc_id",
        F.lit(None).cast("string").alias("grp"), "priority",
    )
    mix = mix_sources(
        docs.select("doc_id", "source"), _MIX_TARGETS, "CAST(doc_id AS STRING)"
    ).select(
        F.lit("mix").alias("sampler"), "doc_id",
        F.col("source").alias("grp"), null_d.alias("priority"),
    )
    return det.unionByName(strat).unionByName(prio_lang).unionByName(prio_global).unionByName(mix)


def _curation_oracle(budget: int = 1024) -> str:
    vals = ", ".join(
        f"('{s}', CAST({f!r} AS DOUBLE))" for s, f in _MIX_TARGETS.items()
    )
    norm = norm_text_sql("duckdb")
    tc = token_count_sql("duckdb")
    return f"""
WITH keepq AS (SELECT doc_id FROM ({_gopher_oracle()}) WHERE keep),
dd AS (
  SELECT MIN(d.doc_id) AS doc_id FROM documents d JOIN keepq USING (doc_id)
  GROUP BY {norm}),
d2 AS (SELECT d.doc_id, d.source FROM documents d JOIN dd USING (doc_id)),
t(source, tf) AS (VALUES {vals}),
n AS (SELECT source, count(*) AS cnt FROM d2 GROUP BY 1),
r AS (SELECT n.source, cnt, tf FROM n JOIN t USING (source)),
nout AS (SELECT min(cnt / tf) AS nout FROM r),
rates AS (SELECT source, tf * nout / cnt AS rate FROM r, nout),
mixed AS (
  SELECT d2.doc_id FROM d2 JOIN rates USING (source)
  WHERE rate >= 1.0 OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) <
        lpad(lower(to_hex(CAST(floor(rate * 1152921504606846976) AS BIGINT))), 15, '0')),
t2 AS (
  SELECT m.doc_id, {tc} AS n_tokens, md5(CAST(m.doc_id AS VARCHAR)) AS k
  FROM mixed m JOIN documents USING (doc_id)),
c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY k, doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM t2)
SELECT doc_id, n_tokens,
       CAST((cum - n_tokens) // {budget} AS BIGINT) AS bin_id,
       CAST((cum - n_tokens) % {budget} AS BIGINT) AS start_off FROM c
"""


@register("curation_pipeline_e2e", _curation_oracle())
def curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full modern curation flow composed from the library's stages:
    Gopher quality gate → exact dedup (min doc_id per normalized text
    among survivors) → domain-mixing resample → pretraining sequence
    packing. Each stage's oracle fragment composes into one DuckDB CTE
    chain, so the gate pins the END-TO-END row set, token counts, and bin
    layout — not just each stage in isolation."""
    from sketchlib.dedup import dedup_exact
    from sketchlib.relops import mix_sources
    from sketchlib.textops import gopher_quality_filter, pack_sequences

    docs = _docs(spark, sf_dir)
    keep = gopher_quality_filter(docs).filter("keep").select("doc_id")
    kept_docs = docs.join(keep, "doc_id")
    surv = dedup_exact(kept_docs).select(F.col("keep_doc_id").alias("doc_id"))
    surv_docs = docs.join(surv, "doc_id")
    # validate=False: upstream filtering may legitimately eliminate a
    # target source entirely — the mixing then runs over what survived
    # (exactly what the oracle's plain join computes)
    mixed = mix_sources(
        surv_docs, _MIX_TARGETS, "CAST(doc_id AS STRING)", validate=False
    )
    return pack_sequences(mixed, budget=1024)


# ----------------------------------------------- relational extensions

_ASOF_ORACLE = """
WITH clicks AS (SELECT event_id, user_id, ts FROM events
  WHERE event_type = 'click' AND ts IS NOT NULL),
purch AS (SELECT user_id, ts, event_id FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL)
SELECT c.event_id, c.user_id,
       CAST(epoch_us(c.ts) AS BIGINT) AS click_ts_us,
       p.event_id AS purchase_event_id,
       CAST(epoch_us(p.ts) AS BIGINT) AS purchase_ts_us
FROM clicks c ASOF JOIN purch p ON c.user_id = p.user_id AND c.ts > p.ts
"""


@register("asof_click_attribution", _ASOF_ORACLE)
def asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (funnel attribution): each click gets the user's most
    recent STRICTLY-prior purchase. Spark side is the union-window as-of
    (one shuffle on the key, running last() carries values forward);
    oracle is DuckDB's native ASOF JOIN — two independent implementations
    of the operator."""
    from sketchlib.relops import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"))
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").cast("timestamp").alias("pts"),
                F.col("event_id").alias("purchase_event_id"))
    )
    out = asof_join(clicks, purch, key="user_id", left_ts="ts", right_ts="pts",
                    right_cols=["purchase_event_id", "pts"], strict=True)
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("click_ts_us"),
        "purchase_event_id",
        F.unix_micros("pts").alias("purchase_ts_us"),
    )


_CAGG_ORACLE = """
SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS bucket_us, event_type,
       COUNT(*) AS n, CAST(SUM(CASE WHEN isfinite(value) AND abs(value) <= 9.0e15 THEN CAST(FLOOR(value * 1000) AS BIGINT) END) AS BIGINT) AS val_e3
FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
"""
# ^ the outer CAST matters: DuckDB SUM(BIGINT) yields HUGEINT, which
# .df() materializes as float64 ("147709.0") while Spark emits int64
# ("147709") — the r4 driver hash mismatch on exactly this query (the old
# %.10g replica canon masked it; the strict canon reproduces it)


@register("hourly_continuous_aggregate", _CAGG_ORACLE)
def hourly_continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hourly rollup materialized at
    a (deterministic, day-aligned) refresh cutoff + on-the-fly aggregation
    of only the raw tail, merged by summing integer partials — history is
    never rescanned, yet the result equals the direct full GROUP BY
    exactly (the oracle computes it directly over all events).

    The rollup cache is content-addressed + atomically published
    (sketchlib.cache): the path embeds a fingerprint of the input parquet
    files plus a code-version token, and the dir is immutable once
    published — the r4 driver red row traced to a shared basename-keyed
    path a concurrent run could overwrite mid-read."""
    from sketchlib.cache import content_cache_path, ensure_cached
    from sketchlib.queries import _events
    from sketchlib.relops import continuous_agg, write_time_rollup

    ev = _events(spark, sf_dir)
    cutoff_us = ev.select(
        F.unix_micros(F.date_trunc("day", F.max(F.col("ts").cast("timestamp"))))
    ).first()[0]
    # version token: bump on ANY rollup-semantics change (quantization,
    # bucketing, cutoff rule) — the content fingerprint covers input data
    path = content_cache_path(sf_dir, "rollup_hour", "v3", ["events"])
    ensure_cached(
        path,
        lambda tmp: write_time_rollup(
            ev.filter(F.unix_micros(F.col("ts").cast("timestamp")) < cutoff_us), tmp
        ),
    )
    return continuous_agg(spark, path, ev, cutoff_us)


_RANGE_ORACLE = """
WITH clicks AS (SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS t
                FROM events WHERE event_type = 'click'),
w AS (SELECT event_id AS purchase_event_id, user_id,
             CAST(epoch_us(ts) AS BIGINT) - 1800000000 AS s,
             CAST(epoch_us(ts) AS BIGINT) + 1800000000 AS e
      FROM events WHERE event_type = 'purchase')
SELECT c.event_id, c.user_id, w.purchase_event_id
FROM clicks c JOIN w ON c.user_id = w.user_id AND c.t BETWEEN w.s AND w.e
"""


@register("range_join_promo_windows", _RANGE_ORACLE)
def range_join_promo_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: every click inside a ±30-minute window around a
    purchase by the same user. Spark side is the bucketized range join
    (time axis coarsened to bucket_width, intervals explode to covered
    buckets, plain equi-join on (key, bucket), exact BETWEEN filter — no
    quadratic key-group theta-join); oracle is DuckDB's native BETWEEN
    join — two independent implementations."""
    from sketchlib.relops import range_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    half = 1_800_000_000  # 30 min in µs
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("t")
    )
    wins = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        (F.unix_micros(F.col("ts").cast("timestamp")) - half).alias("s"),
        (F.unix_micros(F.col("ts").cast("timestamp")) + half).alias("e"),
    )
    out = range_join(clicks, wins, key="user_id", left_ts="t",
                     right_start="s", right_end="e", bucket_width=half)
    return out.select("event_id", "user_id", "purchase_event_id")


_SESSION_ORACLE = """
WITH x AS (
  SELECT user_id, ts,
         -- strict >: Spark's session_window MERGES an event arriving at
         -- exactly last+gap (verified in tests/test_relops.py), so only a
         -- strictly larger gap breaks the session
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM x)
SELECT user_id, CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us,
       CAST(epoch_us(MAX(ts)) AS BIGINT) AS last_ts_us,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, sid
"""


@register("user_sessions", _SESSION_ORACLE)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity gap) via the built-in
    session_window aggregation — the identical definition Structured
    Streaming uses. Oracle: an independent window-lag + running-sum session
    reconstruction in DuckDB."""
    from sketchlib.relops import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize(ev, key="user_id", ts_col="ts", gap="30 minutes")


_VOCAB_ORACLE = r"""
WITH toks AS (
  SELECT UNNEST(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
  FROM documents)
SELECT token, COUNT(*) AS n FROM toks WHERE length(token) > 0
GROUP BY token ORDER BY n DESC, token LIMIT 100
"""


@register("vocab_top100", _VOCAB_ORACLE)
def vocab_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary head: top-100 tokens by corpus frequency (map-side
    partial counts, one shuffle, TakeOrdered top-k)."""
    from sketchlib.textops import vocab_topk

    return vocab_topk(_docs(spark, sf_dir), k=100)


def _ivf_cn_ctes(
    k: int = 16, lloyd_iters: int = 2, src: str = "embeddings"
) -> tuple[list, str]:
    """The shared IVF centroid-chain CTEs (hash-ordered seeds + Lloyd
    rounds with fixed-point-exact means) and the final centroid relation
    name — used by the plain IVF oracle AND the IVFPQ oracle, so the
    coarse-quantizer replay cannot diverge between them."""
    ctes = [
        f"""cr AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
            FROM {src} WHERE {valid_embedding_sql('embedding')} ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k}),
cn0 AS (SELECT cid, list_transform(cv, x -> x / sqrt(list_dot_product(cv, cv))) AS cvn FROM cr),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {src} WHERE {valid_embedding_sql('embedding')})"""
    ]
    for j in range(lloyd_iters):
        ctes.append(f"""asg{j} AS (SELECT vec_id, v, cid FROM (
  SELECT e.vec_id, e.v, c.cid,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY list_dot_product(e.v, c.cvn) DESC, c.cid) AS rn
  FROM e CROSS JOIN cn{j} c) WHERE rn = 1),
u{j} AS (SELECT cid, pos, SUM(CAST(FLOOR(x * 1048576.0) AS BIGINT)) AS s, COUNT(*) AS n
  FROM (SELECT cid, unnest(range(1, len(v) + 1)) AS pos, unnest(v) AS x FROM asg{j})
  GROUP BY cid, pos),
cv{j} AS (SELECT cid, list(CAST(s AS DOUBLE) / n / 1048576.0 ORDER BY pos) AS cv
  FROM u{j} GROUP BY cid),
cn{j + 1} AS (SELECT p.cid,
  COALESCE(CASE WHEN list_dot_product(nw.cv, nw.cv) > 0
                THEN list_transform(nw.cv, x -> x / sqrt(list_dot_product(nw.cv, nw.cv))) END,
           p.cvn) AS cvn
  FROM cn{j} p LEFT JOIN cv{j} nw USING (cid))""")
    return ctes, f"cn{lloyd_iters}"


def _ivf_oracle(
    k: int = 16,
    lloyd_iters: int = 2,
    nprobe: int = 4,
    topk: int = 10,
    src: str = "embeddings",
    qids: tuple | None = None,
) -> str:
    """DuckDB re-derivation of the ENTIRE IVF pipeline including the Lloyd
    refinement rounds: seeds = hash-ordered sample; each round assigns by
    argmax dot, averages members with the SAME fixed-point integer sums as
    lloyd_refine (floor(x * 2^20) — exact, order-independent), renormalizes,
    and keeps the previous centroid for empty clusters. Algorithm-level
    parity, zero literals. ``src`` swaps the corpus relation (e.g. the
    clustered-fixture derivation). ``qids`` switches to the BATCH probe
    shape: per-query centroid ranking + per-query ROW_NUMBER top-k over
    the pruned candidate lists, returning (query_id, vec_id)."""
    ctes, fin = _ivf_cn_ctes(k, lloyd_iters, src)
    if qids is not None:
        ids = ", ".join(str(i) for i in qids)
        ctes.append(f"""asg AS (SELECT vec_id, v, cid,
        ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY list_dot_product(v, cvn) DESC, cid) AS rn
        FROM e CROSS JOIN {fin}),
a AS (SELECT vec_id, v, cid FROM asg WHERE rn = 1),
qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ({ids})),
pc AS (SELECT q.query_id, c.cid,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
                            ORDER BY list_dot_product(c.cvn, q.qv) DESC, c.cid) AS qr
       FROM {fin} c CROSS JOIN qs q)""")
        return (
            "WITH " + ",\n".join(ctes) + f"""
SELECT query_id, vec_id FROM (
  SELECT q.query_id, a.vec_id,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
                            ORDER BY ROUND(list_cosine_similarity(a.v, q.qv), 9) DESC,
                                     a.vec_id) AS rn
  FROM a JOIN (SELECT query_id, cid FROM pc WHERE qr <= {nprobe}) p USING (cid)
         JOIN qs q USING (query_id)) WHERE rn <= {topk}
"""
        )
    ctes.append(f"""asg AS (SELECT vec_id, v, cid,
        ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY list_dot_product(v, cvn) DESC, cid) AS rn
        FROM e CROSS JOIN {fin}),
a AS (SELECT vec_id, v, cid FROM asg WHERE rn = 1),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
pc AS (SELECT cid, ROW_NUMBER() OVER (
         ORDER BY list_dot_product(cvn, (SELECT qv FROM q)) DESC, cid) AS qr FROM {fin})""")
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT a.vec_id FROM a JOIN (SELECT cid FROM pc WHERE qr <= {nprobe}) p USING (cid), q
ORDER BY ROUND(list_cosine_similarity(a.v, q.qv), 9) DESC, a.vec_id
LIMIT {topk}
"""
    )


_IVF_ORACLE = _ivf_oracle(nprobe=12)


@register("ann_ivf_topk", _IVF_ORACLE)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: hash-sampled seeds refined by 2 in-plan Lloyd rounds
    (fixed-point-exact means) → max-dot assignment → index partitioned by
    centroid → probe reads only the nprobe best partitions → exact
    re-score. The oracle re-derives the ENTIRE pipeline (seeding, Lloyd
    rounds, assignment argmax, probe ranking, re-score) in DuckDB SQL —
    algorithm-level parity with zero literals.

    nprobe=12/16 is the measured recall@10 ≥ 0.9 operating point on this
    corpus (sf0.1: 0.975, sf0.01: 0.94 over fixed query
    panels — the synthetic embeddings carry little cluster structure, so
    high absolute recall needs a high probed fraction; the quantizer still
    lifts recall well above the probed-fraction baseline, e.g. 0.825 vs
    0.50 at nprobe=8). Sweep + multi-assignment simulation recorded in
    SURVEY §10."""
    from sketchlib.cache import content_cache_path, ensure_cached
    from sketchlib.similarity import ivf_topk, write_ivf_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # _l2 = 2 Lloyd rounds; bump the version token on ANY centroid-rule
    # change (CLAUDE.md invariant — a stale cache silently corrupts the
    # gate; the content fingerprint additionally covers the input data).
    # nprobe is probe-time only — it does not touch the cached index, so
    # no version bump on nprobe changes.
    idx = content_cache_path(sf_dir, "emb_ivf16_l2", "v3", ["embeddings"])

    def _write(tmp: str) -> None:
        # index + its _centroids sibling both land INSIDE the cache dir so
        # the atomic rename publishes them together; root marker last
        import os

        write_ivf_index(emb, os.path.join(tmp, "index"), k=16, lloyd_iters=2)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    ensure_cached(idx, _write, expect=("index", "index_centroids"))
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    return ivf_topk(spark, f"{idx}/index", qvec, k=10, nprobe=12).select("vec_id")


def _clustered_emb_sql(n_clusters: int = 16, amp: float = 0.5) -> str:
    """DuckDB mirror of similarity.clustered_embeddings — integer modular
    arithmetic, one exact multiply by the power-of-two ``amp``, one IEEE
    add of the float-exact original component: bit-identical to the Spark
    derivation (verified in test_similarity); DuckDB lists are 1-based,
    hence (j - 1)."""
    return (
        "(SELECT vec_id, list_transform(range(1, len(embedding) + 1), j -> "
        f"CAST(((vec_id % {n_clusters}) * 37 + (j - 1) * 11) % 13 - 6 AS DOUBLE)"
        f" * {amp!r} "
        "+ CAST(embedding[j] AS DOUBLE)) AS embedding "
        f"FROM embeddings WHERE {valid_embedding_sql('embedding')}) clustered"
    )


_CLUSTERED_EMB_SQL = _clustered_emb_sql()


# the clustered-fixture probe composite's oracle: the batch re-derivation
# (3-query panel) also supplies the single-probe rows — query 0's batch
# result IS the single-query answer, so re-selecting it under the
# 'single' label pins single-vs-batch parity in the gate itself.
_ANN_CLUSTERED_PROBE_ORACLE = f"""
WITH b AS ({_ivf_oracle(nprobe=2, src=_CLUSTERED_EMB_SQL, qids=(0, 7, 23))})
SELECT 'batch' AS path, query_id, vec_id FROM b
UNION ALL
SELECT 'single' AS path, CAST(0 AS BIGINT) AS query_id, vec_id FROM b
WHERE query_id = 0
"""


@register("ann_ivf_clustered_probe", _ANN_CLUSTERED_PROBE_ORACLE)
def ann_ivf_clustered_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probing on the clustered fixture, single AND batch paths in one
    gate entry (consolidates the r6-green ann_ivf_topk_clustered +
    ann_ivf_topk_batch singletons;
    both probe implementations stay exercised against one materialized
    index). The fixture derives a deterministic 16-cluster mixture
    (bit-identical in both engines) and gates the
    operating point an index is FOR: nprobe=2 of 16 lists → measured
    recall 1.0 at ~12-25% of the corpus scanned (floor pinned in
    tests/test_similarity.py). 'single' rows run ivf_topk (query 0;
    partition-pruned scan of the 2 probed centroid directories); 'batch'
    rows run ivf_topk_batch (3-query panel in ONE plan — in-plan centroid
    ranking, dynamic partition pruning, per-query window top-k,
    plan-asserted in tools/explain_plans.py). The oracle re-derives the
    ENTIRE pipeline (derivation, seeding, 2 Lloyd rounds, argmax
    assignment, probe ranking, re-score) in DuckDB SQL; its batch query-0
    rows double as the single-path truth, pinning single==batch parity."""
    from sketchlib.cache import content_cache_path, ensure_cached
    from sketchlib.similarity import (
        clustered_embeddings,
        ivf_topk,
        ivf_topk_batch,
        write_ivf_index,
    )

    emb2 = clustered_embeddings(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), n_clusters=16
    )
    idx = content_cache_path(sf_dir, "emb_ivf16c_l2", "v1", ["embeddings"])

    def _write(tmp: str) -> None:
        import os

        write_ivf_index(emb2, os.path.join(tmp, "index"), k=16, lloyd_iters=2)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    ensure_cached(idx, _write, expect=("index", "index_centroids"))
    qvec = emb2.filter(F.col("vec_id") == 0).first()["embedding"]
    single = ivf_topk(spark, f"{idx}/index", qvec, k=10, nprobe=2).select(
        F.lit("single").alias("path"),
        F.lit(0).cast("long").alias("query_id"),
        "vec_id",
    )
    qs = emb2.filter(F.col("vec_id").isin([0, 7, 23])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    batch = ivf_topk_batch(spark, f"{idx}/index", qs, k=10, nprobe=2).select(
        F.lit("batch").alias("path"), "query_id", "vec_id"
    )
    return batch.unionByName(single)


def _ivf_pq_oracle(
    k: int = 16,
    lloyd_iters: int = 2,
    n_sub: int = 16,
    ksub: int = 16,
    dsub: int = 4,
    nprobe: int = 2,
    shortlist: int = 30,
    topk: int = 10,
    amp: float = 0.0625,
) -> str:
    """Full-pipeline IVFPQ re-derivation in DuckDB — zero literals, every
    stage data-derived: the SHARED coarse-centroid chain (_ivf_cn_ctes —
    the PQ oracle cannot diverge from the IVF oracle's quantizer),
    assignment, the engine-exact normalized-quantized domain (floor
    products, exact integer norm², IEEE isqrt, GUARDED floor division —
    Spark div and DuckDB // both truncate, python // floors, so both SQL
    sides carry the same `- (CASE WHEN rem != 0 AND neg)` correction),
    per-list integer means, integer-L2 subspace Lloyd rounds (argmin ties
    → smallest code, floor-divided exact sums, empty codes keep their
    centroid), encoding, the per-query integer LUT, the ADC shortlist,
    and the exact ROUND(·, 9) re-score."""
    src = _clustered_emb_sql(16, amp)
    ctes, fin = _ivf_cn_ctes(k, lloyd_iters, src)
    fdiv = "({a}) // ({b}) - (CASE WHEN ({a}) % ({b}) != 0 AND ({a}) < 0 THEN 1 ELSE 0 END)"
    ctes.append(f"""asg AS (SELECT vec_id, v, cid,
        ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY list_dot_product(v, cvn) DESC, cid) AS rn
        FROM e CROSS JOIN {fin}),
a AS (SELECT vec_id, v, cid FROM asg WHERE rn = 1),
x0 AS (SELECT vec_id, cid, unnest(range(1, len(v) + 1)) AS pos,
       GREATEST(CAST(-67108864 AS BIGINT), LEAST(CAST(67108864 AS BIGINT),
         CAST(FLOOR(unnest(v) * 1048576.0) AS BIGINT))) AS x0 FROM a),
nr AS (SELECT vec_id, GREATEST(CAST(1 AS BIGINT),
       CAST(FLOOR(SQRT(CAST(SUM(x0 * x0) AS DOUBLE))) AS BIGINT)) AS r
       FROM x0 GROUP BY vec_id),
xq AS (SELECT x.vec_id, x.cid, x.pos,
       {fdiv.format(a='x.x0 * 1048576', b='nr.r')} AS q
       FROM x0 x JOIN nr ON nr.vec_id = x.vec_id),
cms AS (SELECT cid, pos, CAST(SUM(q) AS BIGINT) AS s, COUNT(*) AS n
        FROM xq GROUP BY 1, 2),
cmq AS (SELECT cid, pos, {fdiv.format(a='s', b='n')} AS cq FROM cms),
rql AS (SELECT x.vec_id, x.cid,
        CAST((x.pos - 1) // {dsub} AS INT) AS sub,
        CAST((x.pos - 1) % {dsub} AS INT) AS spos,
        x.q - c.cq AS q
        FROM xq x JOIN cmq c ON c.cid = x.cid AND c.pos = x.pos),
sid AS (SELECT vec_id, ROW_NUMBER() OVER
        (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
        FROM a ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {ksub}),
cb0q AS (SELECT s.code, r.sub, r.spos, r.q FROM sid s JOIN rql r USING (vec_id))""")
    prev = "cb0q"
    for j in range(2):  # pq_iters = 2 (pq_train_codebooks default)
        ctes.append(f"""pd{j} AS (SELECT r.vec_id, r.sub, c.code,
  SUM((r.q - c.q) * (r.q - c.q)) AS dist
  FROM rql r JOIN {prev} c ON c.sub = r.sub AND c.spos = r.spos
  GROUP BY 1, 2, 3),
pa{j} AS (SELECT vec_id, sub, code FROM (
  SELECT vec_id, sub, code,
         ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
  FROM pd{j}) WHERE rn = 1),
ps{j} AS (SELECT p.sub, p.code, r.spos, CAST(SUM(r.q) AS BIGINT) AS s, COUNT(*) AS n
  FROM pa{j} p JOIN rql r ON r.vec_id = p.vec_id AND r.sub = p.sub
  GROUP BY 1, 2, 3),
cb{j + 1}q AS (SELECT c.sub, c.code, c.spos,
  COALESCE({fdiv.format(a='u.s', b='u.n')}, c.q) AS q
  FROM {prev} c LEFT JOIN ps{j} u
    ON u.sub = c.sub AND u.code = c.code AND u.spos = c.spos)""")
        prev = f"cb{j + 1}q"
    ctes.append(f"""ed AS (SELECT r.vec_id, r.sub, c.code,
  SUM((r.q - c.q) * (r.q - c.q)) AS dist
  FROM rql r JOIN {prev} c ON c.sub = r.sub AND c.spos = r.spos
  GROUP BY 1, 2, 3),
codes AS (SELECT vec_id, sub, code FROM (
  SELECT vec_id, sub, code,
         ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
  FROM ed) WHERE rn = 1),
qv AS (SELECT v FROM e WHERE vec_id = 0),
q0 AS (SELECT pos, q FROM xq WHERE vec_id = 0),
qsub AS (SELECT CAST((pos - 1) // {dsub} AS INT) AS sub,
         CAST((pos - 1) % {dsub} AS INT) AS spos, q FROM q0),
lut AS (SELECT c.sub, c.code, CAST(SUM(qs.q * c.q) AS BIGINT) AS ip
        FROM {prev} c JOIN qsub qs ON qs.sub = c.sub AND qs.spos = c.spos
        GROUP BY 1, 2),
ipc AS (SELECT c.cid, CAST(SUM(q0.q * c.cq) AS BIGINT) AS ip
        FROM cmq c JOIN q0 ON q0.pos = c.pos GROUP BY 1),
pc AS (SELECT cid, ROW_NUMBER() OVER (
         ORDER BY list_dot_product(cvn, (SELECT v FROM qv)) DESC, cid) AS qr
       FROM {fin}),
vsc AS (SELECT cd.vec_id, CAST(SUM(l.ip) AS BIGINT) AS ipsum
        FROM codes cd JOIN lut l ON l.sub = cd.sub AND l.code = cd.code
        GROUP BY 1),
adcl AS (SELECT a.vec_id, CAST(ipc.ip + v.ipsum AS BIGINT) AS adc_q
         FROM a JOIN (SELECT cid FROM pc WHERE qr <= {nprobe}) pl ON a.cid = pl.cid
         JOIN ipc ON ipc.cid = a.cid
         JOIN vsc v ON v.vec_id = a.vec_id
         ORDER BY adc_q DESC, a.vec_id LIMIT {shortlist}),
refl AS (SELECT s.vec_id, s.adc_q FROM adcl s JOIN e ON e.vec_id = s.vec_id, qv
         ORDER BY ROUND(list_cosine_similarity(e.v, qv.v), 9) DESC, s.vec_id
         LIMIT {topk})""")
    return (
        "WITH " + ",\n".join(ctes) + """
SELECT 'adc' AS path, vec_id, adc_q FROM adcl
UNION ALL
SELECT 'refined' AS path, vec_id, adc_q FROM refl
"""
    )


@register("ann_ivf_pq_topk", _ivf_pq_oracle())
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + product-quantization ANN (Jégou et al. 2011)
    — the 100-TB embedding story: the index stores 16 4-bit codes (8 B)
    per vector instead of 512 B of float64, partitioned by coarse
    centroid; the probe reads ONLY the nprobe best centroid directories
    and ONLY the codes column (plan-asserted), ranks candidates by a
    pure-BIGINT asymmetric-distance LUT sum in the engine-exact
    normalized-quantized domain, keeps a 30-row shortlist
    (TakeOrderedAndProject), and exact-rescores it (ROUND(·, 9) cosine)
    for the final top-10. Runs on the amp=0.0625 clustered fixture — the
    center≈noise regime where within-list cosine gaps exceed PQ
    reconstruction error (the amp=0.5 IVF fixture collapses every cosine
    into [0.995, 1], unrankable by ANY quantized code — measured, see
    similarity.clustered_embeddings). Recall floor vs brute-force exact
    is pinned in tests/test_similarity.py (panel min 0.9, mean ≥ 0.95 at
    sf0.01). The oracle re-derives the ENTIRE pipeline — coarse chain
    (shared CTEs with the IVF oracle), integer normalization, per-list
    means, 2 integer-L2 subspace Lloyd rounds, encoding, LUT, shortlist,
    re-score — data-derived with zero literals."""
    from sketchlib.cache import content_cache_path, ensure_cached
    from sketchlib.similarity import clustered_embeddings, ivf_pq_topk, write_ivf_pq_index

    emb2 = clustered_embeddings(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), n_clusters=16, amp=0.0625
    )
    # v2: x0 clamp ±2^26 joined the quantized domain (PQ_X0_CLAMP —
    # overflow-bounding, a semantic change even though in-domain results
    # are identical; the CLAUDE.md bump-on-semantic-change rule)
    idx = content_cache_path(sf_dir, "emb_ivfpq16x16", "v2", ["embeddings"])

    def _write(tmp: str) -> None:
        import os

        write_ivf_pq_index(
            emb2, os.path.join(tmp, "index"), k=16, n_sub=16, ksub=16, lloyd_iters=2
        )
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    ensure_cached(
        idx, _write, expect=("index", "index_centroids", "index_cmeans", "index_codebooks")
    )
    qvec = emb2.filter(F.col("vec_id") == 0).first()["embedding"]
    return ivf_pq_topk(
        spark, f"{idx}/index", qvec, k=10, nprobe=2, shortlist=30, rescore_src=emb2
    )


_PACK_ORACLE = (
    # doc_id IS NOT NULL: the layout ORDERS BY md5(doc_id) — a NULL key
    # sorts NULLS FIRST in Spark and NULLS LAST in DuckDB, shifting every
    # downstream cumsum (r7 fuzz NULL-id row); the packer keys docs on
    # their id, so NULL-id docs drop by contract on both sides
    "WITH t AS (SELECT doc_id, {tc} AS n_tokens, md5(CAST(doc_id AS VARCHAR)) AS k "
    "           FROM documents WHERE doc_id IS NOT NULL), "
    "c AS (SELECT doc_id, n_tokens, "
    "             SUM(n_tokens) OVER (ORDER BY k, doc_id ROWS UNBOUNDED PRECEDING) AS cum "
    "      FROM t) "
    "SELECT doc_id, n_tokens, "
    "       CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin_id, "
    "       CAST((cum - n_tokens) % 2048 AS BIGINT) AS start_off FROM c"
).format(tc=token_count_sql("duckdb"))


@register("pack_sequences_2048", _PACK_ORACLE)
def pack_sequences_2048(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining sequence packing (concat-then-chunk at a 2048-token
    budget): deterministic hash-ordered document stream cut into bins via
    a two-phase distributed prefix sum (per-partition window cumsum +
    driver-side prefix offsets — never a global single-partition window).
    Oracle is the straightforward window SUM in DuckDB; exact integer
    arithmetic makes the bin/offset assignment engine-identical. NULL
    doc_ids drop (the layout keys docs on their id — oracle comment)."""
    from sketchlib.textops import pack_sequences

    return pack_sequences(
        _docs(spark, sf_dir).where(F.col("doc_id").isNotNull()), budget=2048
    )


# ------------------------------------------------- sources/sinks beyond parquet


@register(
    "sink_roundtrip_jsonl",
    "SELECT lang, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc FROM documents GROUP BY lang",
)
def sink_roundtrip_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink → source roundtrip: write the docs' id/lang columns as
    line-delimited JSON, read them back with an explicit schema, aggregate.
    The oracle aggregates the ORIGINAL parquet — any loss/corruption in
    the JSON writer/reader surfaces as a gate mismatch. (SURVEY §2.6
    sources/sinks beyond parquet.)

    Hermetic: the sink writes to a RUN-SCOPED unique
    dir (never shared with any concurrent run), the read-back aggregate
    is eagerly materialized (localCheckpoint — k rows, one per lang), and
    the dir is removed before returning."""
    from sketchlib.cache import discard, run_scoped_path

    path = run_scoped_path("roundtrip_jsonl")
    _docs(spark, sf_dir).select("doc_id", "lang").write.mode("overwrite").json(path)
    back = spark.read.schema("doc_id bigint, lang string").json(path)
    out = back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc")
    ).localCheckpoint(eager=True)
    discard(path)
    return out


@register(
    "sink_roundtrip_csv",
    # value_e3_sum integerizes only values in the rollup quantization
    # domain (finite AND |v*1000| fits a BIGINT — 1e308 is finite but its
    # x1000 overflows: DuckDB's cast raises, Spark ANSI raises too);
    # out-of-domain doubles are instead COUNTED, proving NaN/±Inf/1e308
    # survive the CSV writer/reader rather than silently vanishing
    # CAST(SUM(...) AS BIGINT): DuckDB SUM(BIGINT)→HUGEINT→pandas float64
    # ("147709.0" vs Spark int64 "147709") — the r4 driver red row
    "SELECT event_type, COUNT(*) AS n, CAST(SUM(user_id) AS BIGINT) AS uid_sum, "
    "CAST(SUM(CASE WHEN isfinite(value) AND abs(value) <= 9.0e15 "
    "    THEN CAST(FLOOR(value * 1000) AS BIGINT) END) AS BIGINT) AS value_e3_sum, "
    "COUNT(CASE WHEN value IS NOT NULL AND NOT (isfinite(value) AND abs(value) <= 9.0e15) "
    "      THEN 1 END) AS n_nonfinite "
    "FROM events GROUP BY event_type",
)
def sink_roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink → source roundtrip (header + explicit read schema): doubles
    survive because Spark writes round-trippable shortest representations
    (NaN/Infinity tokens included — counted separately, see the oracle
    comment); the gate compares integerized per-row values aggregated
    exactly, vs the oracle over the original parquet.

    Hermetic: run-scoped unique sink dir, eager k-row
    materialization of the read-back aggregate, dir removed before
    returning — no concurrent run can clobber the path mid-read."""
    from sketchlib.cache import discard, run_scoped_path
    from sketchlib.queries import _events
    from sketchlib.relops import _finite_val

    path = run_scoped_path("roundtrip_csv")
    # explicit null token + quoted empty: default CSV collapses NULL and ''
    # into one value on read-back, silently merging their groups
    # (fuzz-gate finding — a 7-group corpus came back as 6)
    _events(spark, sf_dir).select("event_id", "event_type", "user_id", "value").write.mode(
        "overwrite"
    ).option("header", True).option("nullValue", "\\N").option("emptyValue", '""').csv(path)
    back = spark.read.option("header", True).option("nullValue", "\\N").option(
        "emptyValue", ""
    ).schema(
        "event_id bigint, event_type string, user_id bigint, value double"
    ).csv(path)
    fin = _finite_val("value")  # the rollup quantization domain (relops)
    out = back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_id").alias("uid_sum"),
        F.sum(F.when(fin, F.floor(F.col("value") * 1000).cast("long"))).alias("value_e3_sum"),
        F.count(F.when(F.col("value").isNotNull() & ~fin, 1)).alias("n_nonfinite"),
    ).localCheckpoint(eager=True)
    discard(path)
    return out


# --------------------------------------------------------- multimodal


# mm composite oracle (r8 gate-window consolidation):
# decode-meta arithmetic, the fit-within resize integer pipeline, and the
# 4-frame sampling all derive from the payload byte length in ONE CTE
# chain (no doc_id join anywhere, so NULL-doc_id rows keep flowing).
# Frames are fingerprinted from the HEX encoding sliced at doubled
# offsets — byte-exact for ANY text (a varchar substring would assume
# char offset == byte offset, which multibyte chars break; DuckDB has no
# blob slicing); both sides md5 the lowercased hex of the same 32 bytes.
_MM_PIPELINE_ORACLE = """
WITH f AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n,
                  lower(to_hex(encode(text))) AS hx
           FROM documents WHERE text IS NOT NULL),
d AS (SELECT *, n % 640 + 1 AS w, n * 7 % 480 + 1 AS h, n % 3 + 1 AS ch FROM f),
r AS (SELECT *, GREATEST(w, h) AS mx FROM d),
o AS (SELECT *,
        CASE WHEN mx > 64 THEN GREATEST(1, w * 64 // mx) ELSE w END AS ow,
        CASE WHEN mx > 64 THEN GREATEST(1, h * 64 // mx) ELSE h END AS oh
      FROM r),
s AS (SELECT *, GREATEST(1, (w * h) // GREATEST(ow * oh, 1)) AS stride FROM o),
i AS (SELECT UNNEST(range(4)) AS fi)
SELECT doc_id, n AS n_bytes, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(ch AS INT) AS channels,
       CAST(ow AS INT) AS out_w, CAST(oh AS INT) AS out_h,
       CAST((n + stride - 1) // stride AS BIGINT) AS resized_n_bytes,
       CAST(fi AS INT) AS frame_idx,
       CAST((fi * GREATEST(n - 32, 0)) // 3 AS BIGINT) AS frame_off,
       md5(substring(hx, CAST((fi * GREATEST(n - 32, 0)) // 3 AS BIGINT) * 2 + 1, 64)) AS frame_md5
FROM s, i
"""


@register("mm_payload_pipeline", _MM_PIPELINE_ORACLE)
def mm_payload_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed multimodal plumbing chain (consolidates the r6-green
    mm_decode_meta + mm_resize_fit + mm_frame_sample singletons into one
    gate entry; each operator is
    still exercised and value-checked, their oracles composed into one
    CTE chain): binary payload → Arrow-batched metadata decode
    (deterministic fake; real codec is mm_decode_bmp / decode_real) →
    aspect-preserving fit-within resize (integer math end to end) →
    4-frame evenly-spaced sampling, one output row per frame carrying the
    meta + resize columns. Three narrow mapInPandas stages over one scan —
    no shuffle anywhere (the 100 TB shape: decode pipelines are
    projection chains)."""
    from sketchlib.multimodal import attach_payload, decode_meta, frame_sample, resize_fit

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    with_payload = attach_payload(docs).select("doc_id", "payload")
    meta = decode_meta(with_payload, keep=["doc_id", "payload"])
    resized = resize_fit(
        meta, keep=["doc_id", "n_bytes", "width", "height", "channels", "payload"]
    )
    frames = frame_sample(
        resized,
        n_frames=4,
        frame_len=32,
        keep=["doc_id", "n_bytes", "width", "height", "channels",
              "out_w", "out_h", "resized_n_bytes"],
    )
    return frames.select(
        "doc_id", "n_bytes", "width", "height", "channels",
        "out_w", "out_h", "resized_n_bytes", "frame_idx", "frame_off",
        F.md5(F.lower(F.hex(F.col("frame")))).alias("frame_md5"),
    )


# byte-histogram feature oracle: bytes come from doubled hex offsets like
# the frame oracle (byte-exact for multibyte text); byte % 16 is exactly
# the LOW hex nibble, so one strpos per byte suffices. The normalized
# feature is CAST(c/n AS REAL) = fl32(fl64(c/n)) — the numpy kernel
# computes the identical double-then-float32 rounding.
_FEATURES_ORACLE = """
WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
                  CAST(octet_length(encode(text)) AS BIGINT) AS n
           FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
by AS (SELECT doc_id,
         strpos('0123456789ABCDEF', substr(hx, 2 * i + 2, 1)) - 1 AS bin
       FROM (SELECT doc_id, hx, unnest(range(n)) AS i FROM b)),
h AS (SELECT doc_id, bin, COUNT(*) AS c FROM by GROUP BY doc_id, bin),
g AS (SELECT b.doc_id, b.n, r.bin
      FROM b CROSS JOIN (SELECT unnest(range(16)) AS bin) r),
j AS (SELECT g.doc_id, g.bin, g.n, COALESCE(h.c, 0) AS c
      FROM g LEFT JOIN h ON g.doc_id = h.doc_id AND g.bin = h.bin)
SELECT doc_id, CAST(bin AS INT) AS bin,
       CAST(CASE WHEN n > 0 THEN CAST(c AS DOUBLE) / n ELSE 0.0 END AS REAL)
       AS feature
FROM j
"""


@register("mm_extract_features", _FEATURES_ORACLE)
def mm_extract_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size feature vectors over binary payloads: the vectorized
    byte-histogram extractor (one np.add.at scatter per Arrow batch — no
    per-payload Python loop; the batch mechanics are exactly a model-
    embedding UDF's). Oracle re-derives the histogram from hex-sliced
    payload bytes and reproduces the float32 normalization bit-for-bit.

    Gate shape: the library API returns features as
    array<float>; the driver canon cannot hash list cells, so the gate
    POSEXPLODES to (doc_id, bin, feature) scalar float32 rows — every
    component is still compared BITWISE (the stronger per-value check; a
    CSV of floats would need a lossy or engine-specific rendering).
    NULL doc_ids drop on both sides: the oracle reassembles per-doc
    histograms through a doc_id equi-join that can never match a NULL
    key (the r7 fuzz NULL-id finding — CLAUDE.md's IS-NOT-DISTINCT class,
    resolved here by pinning the key contract instead)."""
    from sketchlib.multimodal import attach_payload, extract_features

    docs = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id").isNotNull())
        .select("doc_id", "text")
    )
    with_payload = attach_payload(docs).select("doc_id", "payload")
    feats = extract_features(with_payload, dim=16)
    return feats.select(
        "doc_id", F.posexplode("features").alias("bin", "feature")
    )


# real-BMP decode oracle: the synthetic BMP is BUILT from the text bytes
# (image-space BGR pixel k = byte[k mod n], dims = bmp_dims(n)), so every
# decode output re-derives from hex-sliced text bytes — full bytes this
# time (high AND low nibble), unlike the features oracle's %16 shortcut.
# top_row_sum is image row 0 (= the FILE's last row in the bottom-up
# layout): a decoder that forgot the flip fails it whenever h > 1.
# doc_id IS NOT NULL on both sides (the oracle aggregates per doc_id —
# two NULL-id docs would merge into one group where Spark emits per-row).
_BMP_ORACLE = """
WITH s AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n,
                  hex(encode(text)) AS hx
           FROM documents
           WHERE doc_id IS NOT NULL AND text IS NOT NULL
             AND octet_length(encode(text)) > 0),
d AS (SELECT *, n % 13 + 1 AS w, (n * 7) % 11 + 1 AS h FROM s),
k AS (SELECT doc_id, n, hx, w, h, UNNEST(range(w * h * 3)) AS i FROM d),
by AS (SELECT doc_id, w, h, i,
         (strpos('0123456789ABCDEF', substr(hx, CAST((i % n) * 2 + 1 AS BIGINT), 1)) - 1) * 16
       + (strpos('0123456789ABCDEF', substr(hx, CAST((i % n) * 2 + 2 AS BIGINT), 1)) - 1) AS byte
       FROM k),
agg AS (SELECT doc_id, w, h,
         CAST(SUM(CASE WHEN i % 3 = 0 THEN byte ELSE 0 END) AS BIGINT) AS sum_b,
         CAST(SUM(CASE WHEN i % 3 = 1 THEN byte ELSE 0 END) AS BIGINT) AS sum_g,
         CAST(SUM(CASE WHEN i % 3 = 2 THEN byte ELSE 0 END) AS BIGINT) AS sum_r,
         CAST(SUM(CASE WHEN i < 3 * w THEN byte ELSE 0 END) AS BIGINT) AS top_row_sum
        FROM by GROUP BY doc_id, w, h)
SELECT doc_id,
  doc_id % 97 <> 0 AS bmp_ok,
  CASE WHEN doc_id % 97 = 0 THEN NULL ELSE CAST(w AS INT) END AS width,
  CASE WHEN doc_id % 97 = 0 THEN NULL ELSE CAST(h AS INT) END AS height,
  CASE WHEN doc_id % 97 = 0 THEN NULL ELSE sum_b END AS sum_b,
  CASE WHEN doc_id % 97 = 0 THEN NULL ELSE sum_g END AS sum_g,
  CASE WHEN doc_id % 97 = 0 THEN NULL ELSE sum_r END AS sum_r,
  CASE WHEN doc_id % 97 = 0 THEN NULL ELSE top_row_sum END AS top_row_sum
FROM agg
"""


@register("mm_decode_bmp", _BMP_ORACLE)
def mm_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode: each doc's text bytes are laid
    out as a genuine uncompressed 24-bit bottom-up BMP (real
    BITMAPFILEHEADER/BITMAPINFOHEADER, 4-byte row stride, bottom row
    first) and decoded back by the pure-numpy parser
    (multimodal.decode_bmp) — header validation, stride handling, and the
    bottom-up flip are all REAL decode work with no codec libs; compressed
    formats stay honestly stubbed in decode_real. Every 97th doc ships
    with a flipped magic and must come back QUARANTINED
    (bmp_ok=false, NULL stats) — malformed payloads mark, never crash.
    Integer channel sums + the image-row-0 sum make the oracle byte-exact
    from hex-sliced text bytes; golden-vector + malformed-header unit
    tests pin the decoder itself (tests/test_multimodal.py)."""
    from sketchlib.multimodal import attach_bmp_payload, decode_bmp_df

    docs = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id").isNotNull())
        .select("doc_id", "text")
    )
    payloads = attach_bmp_payload(docs, corrupt_every=97)
    return decode_bmp_df(payloads, payload_col="bmp").select(
        "doc_id", "bmp_ok", "width", "height", "sum_b", "sum_g", "sum_r",
        "top_row_sum",
    )


_WAV_ORACLE = """
WITH s AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n,
                  hex(encode(text)) AS hx
           FROM documents
           WHERE doc_id IS NOT NULL AND text IS NOT NULL
             AND octet_length(encode(text)) > 0),
k AS (SELECT doc_id, n, hx, UNNEST(range(n)) AS i FROM s),
by AS (SELECT doc_id, n, i,
         (strpos('0123456789ABCDEF', substr(hx, CAST(i * 2 + 1 AS BIGINT), 1)) - 1) * 16
       + (strpos('0123456789ABCDEF', substr(hx, CAST(i * 2 + 2 AS BIGINT), 1)) - 1) - 128 AS c
       FROM k),
agg AS (SELECT doc_id, n,
         CAST(256 * SUM(c) AS BIGINT) AS sum_s,
         CAST(65536 * SUM(c * c) AS BIGINT) AS energy,
         CAST(256 * MAX(ABS(c)) AS BIGINT) AS peak
        FROM by GROUP BY doc_id, n)
SELECT doc_id,
  doc_id % 97 <> 0 AS wav_ok,
  CASE WHEN doc_id % 97 = 0 THEN NULL
       ELSE CAST([8000, 12000, 16000, 22050, 44100][CAST(n % 5 AS INT) + 1] AS INT)
  END AS sample_rate,
  CASE WHEN doc_id % 97 = 0 THEN NULL ELSE n END AS n_samples,
  CASE WHEN doc_id % 97 = 0 THEN NULL ELSE sum_s END AS sum_s,
  CASE WHEN doc_id % 97 = 0 THEN NULL ELSE energy END AS energy,
  CASE WHEN doc_id % 97 = 0 THEN NULL ELSE peak END AS peak
FROM agg
"""


@register("mm_decode_wav", _WAV_ORACLE)
def mm_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode: each doc's text
    bytes become mono int16 PCM samples ((byte − 128)·256) inside a
    genuine RIFF/WAVE container — canonical fmt chunk, varying sample
    rate, and (for n%3==0 docs) a junk LIST chunk before data so the
    decoder's CHUNK WALK is exercised by the gate itself — then decoded
    back by the pure-numpy parser (multimodal.decode_wav). Every 97th doc
    ships with a flipped RIFF magic and must come back QUARANTINED
    (wav_ok=false, NULL stats). All-integer outputs (sample sum, energy =
    exact sum of squares — the integer RMS surrogate — and |peak|, the
    sign/endianness canary) make the oracle byte-exact from hex-sliced
    text bytes; golden-vector + chunk-walk + malformed-payload unit tests
    pin the decoder itself (tests/test_multimodal.py)."""
    from sketchlib.multimodal import attach_wav_payload, decode_wav_df

    docs = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id").isNotNull())
        .select("doc_id", "text")
    )
    payloads = attach_wav_payload(docs, corrupt_every=97)
    return decode_wav_df(payloads, payload_col="wav").select(
        "doc_id", "wav_ok", "sample_rate", "n_samples", "sum_s", "energy",
        "peak",
    )


_PRIORITY_ORACLE = (
    "SELECT doc_id, CAST(length(text) AS DOUBLE) / "
    "((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || '42'), 1, 13) "
    "AS BIGINT) AS DOUBLE) + 1.0) / 4503599627370496.0) AS priority "
    "FROM documents "
    "WHERE doc_id IS NOT NULL AND text IS NOT NULL AND length(text) > 0 "
    "ORDER BY priority DESC, CAST(doc_id AS VARCHAR) LIMIT 50"
)


def _decontam_oracle(n: int = 5) -> str:
    ta = token_array_expr("duckdb")
    unn = (
        f"unnest(CASE WHEN len(a) < {n} THEN []::VARCHAR[] ELSE "
        f"list_transform(range(1, len(a) - {n} + 2), "
        f"i -> array_to_string(a[i:i+{n - 1}], ' ')) END) AS span"
    )
    return f"""
WITH tr AS (SELECT doc_id, {ta} AS a FROM documents
            WHERE doc_id IS NOT NULL AND md5(CAST(doc_id AS VARCHAR)) >= '28'),
be AS (SELECT {ta} AS a FROM documents
       WHERE md5(CAST(doc_id AS VARCHAR)) < '28'),
ts AS (SELECT DISTINCT doc_id, span FROM (SELECT doc_id, {unn} FROM tr)),
bs AS (SELECT DISTINCT span FROM (SELECT {unn} FROM be))
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap_spans
FROM ts JOIN bs USING (span) GROUP BY 1
"""


def _decontam_inputs(spark: SparkSession, sf_dir: str):
    """The (train, benchmark) split shared by BOTH decontamination gate
    entries and mirrored in _decontam_oracle — one definition, so a
    threshold/key-cast edit cannot diverge the three copies silently."""
    from sketchlib.relops import sample_by_hash

    docs = _docs(spark, sf_dir)
    bench = sample_by_hash(docs, "CAST(doc_id AS STRING)", "28")
    train = docs.filter(F.expr("md5(CAST(doc_id AS STRING)) >= '28'"))
    return train, bench


@register("decontaminate_vs_holdout", _decontam_oracle())
def decontaminate_vs_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-test decontamination (GPT-3 appendix-C / Llama stage): count
    each training doc's distinct 5-gram spans that appear anywhere in the
    held-out split (the md5<'28' sample doubling as the benchmark set).
    Spans shuffle as short derived strings; the benchmark side reduces to
    distinct spans before the join (AQE broadcasts it when small). Oracle
    re-derives the identical span sets and the overlap join in DuckDB."""
    from sketchlib.dedup import benchmark_span_overlap

    train, bench = _decontam_inputs(spark, sf_dir)
    return benchmark_span_overlap(train, bench, n=5)


@register(
    "kmv_user_overlap",
    "SELECT "
    "(SELECT COUNT(DISTINCT user_id) FROM events WHERE event_type = 'click') AS exact_a, "
    "(SELECT COUNT(DISTINCT user_id) FROM events WHERE event_type = 'purchase') AS exact_b, "
    "(SELECT COUNT(DISTINCT user_id) FROM events WHERE event_type IN ('click','purchase')) AS exact_union, "
    "TRUE AS distinct_ok, TRUE AS union_ok, TRUE AS inter_ok, TRUE AS diff_ok",
)
def kmv_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) set algebra — the sibling-sketch capability
    HLL lacks: union of two synopses is again a valid KMV, and |A∩B| comes
    DIRECTLY from the Jaccard fraction inside the combined synopsis (Beyer
    et al. 2007), not from error-amplifying inclusion-exclusion. Estimates
    checked against exact distinct counts within 3/√(k-2) (+ slack for the
    intersection's compounded error); below k distinct the sketch is exact,
    so the distinct check is strict there."""
    import numpy as np

    from sketchlib.kernels.kmv import KMVSketch
    from sketchlib.spark.agg import SketchSpec, build_sketch

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = build_sketch(ev.filter("event_type = 'click'"), SketchSpec("kv-a", "kmv", (1024,)), "user_id")
    b = build_sketch(ev.filter("event_type = 'purchase'"), SketchSpec("kv-b", "kmv", (1024,)), "user_id")
    row = ev.agg(
        F.countDistinct(F.when(F.col("event_type") == "click", F.col("user_id"))).alias("ea"),
        F.countDistinct(F.when(F.col("event_type") == "purchase", F.col("user_id"))).alias("eb"),
        F.countDistinct(
            F.when(F.col("event_type").isin("click", "purchase"), F.col("user_id"))
        ).alias("eu"),
    ).first()
    sigma = 3 * a.rel_error
    d_ok = abs(a.estimate() - row["ea"]) <= sigma * row["ea"] + 1
    u_ok = abs(a.union_estimate(b) - row["eu"]) <= sigma * row["eu"] + 1
    exact_inter = row["ea"] + row["eb"] - row["eu"]
    i_ok = abs(a.intersection_estimate(b) - exact_inter) <= 2 * sigma * row["eu"] + 2
    exact_diff = row["eu"] - row["eb"]  # |A \ B| = |A∪B| - |B|
    df_ok = abs(a.difference_estimate(b) - exact_diff) <= 2 * sigma * row["eu"] + 2
    return spark.createDataFrame(
        [(row["ea"], row["eb"], row["eu"], bool(d_ok), bool(u_ok), bool(i_ok), bool(df_ok))],
        "exact_a long, exact_b long, exact_union long, "
        "distinct_ok boolean, union_ok boolean, inter_ok boolean, diff_ok boolean",
    )


_PRIORITY_STRAT_ORACLE = (
    "WITH p AS (SELECT doc_id, lang, CAST(length(text) AS DOUBLE) / "
    "((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || '42'), 1, 13) "
    "AS BIGINT) AS DOUBLE) + 1.0) / 4503599627370496.0) AS priority "
    "FROM documents "
    "WHERE doc_id IS NOT NULL AND text IS NOT NULL AND length(text) > 0) "
    "SELECT doc_id, lang, priority FROM ("
    "  SELECT doc_id, lang, priority, ROW_NUMBER() OVER ("
    "    PARTITION BY lang ORDER BY priority DESC, CAST(doc_id AS VARCHAR)) AS rn"
    "  FROM p) WHERE rn <= 10"
)


def _decontam13_oracle(n: int = 13, prefix: int = 20, every: int = 7) -> str:
    """n=13 decontamination oracle with CONSTRUCTED contamination: the
    benchmark set is the first ``prefix`` tokens of every ``every``-th
    document, so contaminated training docs provably share 13-gram spans
    with it (random synthetic text would make the n=13 result trivially
    empty — the r4 entry dropped to n=5 for that reason). The oracle
    slices the token ARRAY where the Spark side re-joins the prefix into
    text and re-tokenizes — equivalent because tokens are
    whitespace-free and the normalizer is idempotent."""
    ta = token_array_expr("duckdb")
    unn = (
        f"unnest(CASE WHEN len(a) < {n} THEN []::VARCHAR[] ELSE "
        f"list_transform(range(1, len(a) - {n} + 2), "
        f"i -> array_to_string(a[i:i+{n - 1}], ' ')) END) AS span"
    )
    return f"""
WITH raw AS (SELECT doc_id, {ta} AS a FROM documents WHERE doc_id IS NOT NULL),
be AS (SELECT a[1:{prefix}] AS a FROM raw WHERE doc_id % {every} = 0),
ts AS (SELECT DISTINCT doc_id, span FROM (SELECT doc_id, {unn} FROM raw)),
bs AS (SELECT DISTINCT span FROM (SELECT {unn} FROM be))
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap_spans
FROM ts JOIN bs USING (span) GROUP BY 1
"""


@register("decontaminate_n13", _decontam13_oracle())
def decontaminate_n13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination at the PUBLISHED span length n=13 (GPT-3
    appendix C; the r4 entry gated only n=5 because
    random short docs share no 13-grams). Contamination is constructed:
    the benchmark is the 20-token prefix of every 7th document, so every
    such doc (with ≥13 tokens) must report its prefix spans as overlap —
    plus any chance 13-gram collisions. Same hash-keyed span shuffles as
    the n=5 entries (dedup.benchmark_span_overlap default n=13)."""
    from sketchlib.dedup import benchmark_span_overlap
    from sketchlib.textops import token_array_expr as ta

    docs = _docs(spark, sf_dir)
    bench = docs.filter("doc_id % 7 = 0").selectExpr(
        "doc_id", f"array_join(slice({ta('spark')}, 1, 20), ' ') AS text"
    )
    return benchmark_span_overlap(docs, bench, n=13)


@register("decontaminate_sketched", _decontam_oracle())
def decontaminate_sketched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME decontamination semantics routed through the cuckoo
    runtime filter (benchmark spans → FP16 filter probed map-side over
    corpus spans; exact semi join removes the bounded false positives).
    Shares decontaminate_vs_holdout's oracle VERBATIM — the gate proves
    the sketch-accelerated path is exact, not approximately right."""
    from sketchlib.dedup import benchmark_span_overlap

    train, bench = _decontam_inputs(spark, sf_dir)
    return benchmark_span_overlap(train, bench, n=5, via_filter=True)


# sampling_suite registers LAST: its oracle composes _PRIORITY_ORACLE /
# _PRIORITY_STRAT_ORACLE / _mix_oracle(), which are defined alongside
# their original (now consolidated) entries above — end-of-module
# registration guarantees every fragment exists. Gate position is set by
# queries._GATE_FRONT, not registration order.
register("sampling_suite", _sampling_suite_oracle())(_sampling_suite)
