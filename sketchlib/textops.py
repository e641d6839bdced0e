"""Text-analysis operators for training-data pipelines.

Language-ID (stopword-count heuristic), quality scoring (length/token/space
ratios), token counting, and document fingerprinting — every operator is a
pure Catalyst expression (JVM-side, whole-stage codegen, zero Python in the
hot path). The SQL fragments are engine-portable: the same strings run in
Spark (`selectExpr`) and in the DuckDB oracle, so the correctness gate
checks true expression-level parity.

SimHash is the one Spark-native extra (needs xxhash64): 64 bit-majority
aggregations over exploded tokens — still pure built-ins, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ------------------------------------------------ portable SQL fragments

#: occurrences of needle in padded lowered text, as an exact double
def _occ(needle: str) -> str:
    n = len(needle)
    return f"(length(__t) - length(replace(__t, '{needle}', ''))) / {n}"


_STOPWORDS = {
    "en": [" the ", " and ", " of ", " a "],
    "de": [" der ", " und ", " die ", " das "],
    "fr": [" le ", " et ", " les ", " une "],
    "es": [" el ", " los ", " una ", " y "],
    "it": [" il ", " di ", " che ", " per "],
}

#: padded+lowered text; defined once, reused by every fragment
_PAD_T = "(' ' || lower(text) || ' ')"


def _lang_scores_sql() -> list[str]:
    return [
        "(" + " + ".join(_occ(wrd) for wrd in words) + f") AS score_{lang}"
        for lang, words in _STOPWORDS.items()
    ]


def lang_id_sql() -> list[str]:
    """SELECT-list fragments: doc text → per-language stopword scores and an
    argmax prediction with fixed tie-break order (en>de>fr>es>it), 'und'
    when no stopword hits at all. Portable Spark/DuckDB SQL."""
    langs = list(_STOPWORDS)
    scores = _lang_scores_sql()
    total = " + ".join(f"score_{lang}" for lang in langs)
    branches = []
    for i, lang in enumerate(langs):
        conds = " AND ".join(f"score_{lang} >= score_{o}" for o in langs[i + 1 :]) or "TRUE"
        prior = " AND ".join(f"score_{lang} > score_{o}" for o in langs[:i]) or "TRUE"
        branches.append(f"WHEN ({prior}) AND ({conds}) THEN '{lang}'")
    pred = f"CASE WHEN ({total}) = 0 THEN 'und' " + " ".join(branches) + " ELSE 'und' END"
    return scores, pred


def ws_regex(dialect: str) -> str:
    """Whitespace-run regex literal per engine: Spark SQL string literals
    process backslash escapes (so the SQL text needs '\\\\s+'), DuckDB keeps
    them raw ('\\s+'). The ONLY dialect difference in these fragments."""
    return "'\\\\s+'" if dialect == "spark" else "'\\s+'"


def _replace_all_flag(dialect: str) -> str:
    """DuckDB's regexp_replace substitutes only the FIRST match unless the
    'g' flag is passed; Spark's replaces all matches by default. Without
    this flag every ws-normalization oracle silently diverges on text with
    more than one whitespace run — invisible on single-spaced synthetic
    corpora, caught by tests/test_fragment_fuzz.py."""
    return "" if dialect == "spark" else ", 'g'"


def norm_text_sql(dialect: str, col: str = "text") -> str:
    """Whitespace-normalized lowered text."""
    return (
        f"trim(regexp_replace(lower({col}), {ws_regex(dialect)}, ' '"
        f"{_replace_all_flag(dialect)}))"
    )


def norm_ws_sql(dialect: str, col: str = "text") -> str:
    """Whitespace-normalized text (case preserved)."""
    return (
        f"trim(regexp_replace({col}, {ws_regex(dialect)}, ' '"
        f"{_replace_all_flag(dialect)}))"
    )


def token_count_sql(dialect: str) -> str:
    # the empty guard tests the NORMALIZED text, not trim(text): trim
    # strips only spaces in both engines, so tab/newline-only text would
    # otherwise count as 1 token (fuzz-gate finding, same trap as the
    # simhash gate predicate)
    n = norm_ws_sql(dialect)
    return (
        f"CASE WHEN length({n}) = 0 THEN 0 "
        f"ELSE CAST((length({n}) - length(replace({n}, ' ', ''))) + 1 AS BIGINT) END"
    )


def fingerprint_sql(dialect: str) -> str:
    return f"md5({norm_text_sql(dialect)})"


def bpe_token_count_sql(dialect: str) -> str:
    """BPE-ish token count: letter runs, digit runs, and punctuation runs
    count separately (the GPT-2-style pre-tokenizer shape), via one regex
    scan. Portable: same pattern text in both engines (only the \\s escape
    differs, like ws_regex)."""
    if dialect == "spark":
        pat = "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]+'"
        return f"CAST(size(regexp_extract_all(text, {pat}, 0)) AS BIGINT)"
    pat = "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'"
    return f"CAST(len(regexp_extract_all(text, {pat})) AS BIGINT)"


#: polynomial rolling-hash parameters (shared by both engines)
_ROLL_BASE, _ROLL_MOD = 31, 1_000_000_007


def rolling_fingerprint_sql(dialect: str) -> str:
    """Polynomial rolling hash of the normalized text, char by char:
    h ← (h·31 + codepoint) mod 1e9+7 — an order-sensitive linear-scan
    fingerprint (unlike md5, prefixes can be extended incrementally). The
    fold is expressed with higher-order list functions in BOTH engines, so
    the gate checks the identical left-to-right arithmetic."""
    n = norm_text_sql(dialect)
    if dialect == "spark":
        return (
            f"aggregate(transform(split({n}, ''), c -> CAST(ascii(c) AS BIGINT)), "
            f"CAST(0 AS BIGINT), (h, c) -> (h * {_ROLL_BASE} + c) % {_ROLL_MOD})"
        )
    # NULL guard: duckdb's list_prepend(0, NULL) yields [0] (folds to 0)
    # where Spark's aggregate NULL-propagates — fuzz finding. Guard on the
    # RAW column (norm NULL-propagates, so they agree) to avoid paying the
    # regex normalization twice per row
    return (
        "CASE WHEN text IS NULL THEN NULL ELSE "
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({n}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(h, c) -> (h * {_ROLL_BASE} + c) % {_ROLL_MOD}) END"
    )


def quality_sql(dialect: str) -> list[str]:
    """Quality features + bucket, as portable fragments over ``documents``."""
    tc = token_count_sql(dialect)
    n = norm_ws_sql(dialect)
    return [
        "CAST(length(text) AS BIGINT) AS n_chars_q",
        f"{tc} AS n_tokens",
        # CAST keeps both engines in double: Spark parses a bare 1.0 literal
        # as DECIMAL and would return a decimal division
        f"CASE WHEN {tc} = 0 THEN CAST(0.0 AS DOUBLE) "
        f"ELSE CAST(length(replace({n}, ' ', '')) AS DOUBLE) / {tc} END "
        "AS avg_token_len",
        f"CASE WHEN {tc} < 10 THEN 'too_short' "
        f"WHEN {tc} > 100000 THEN 'too_long' "
        f"WHEN {tc} = 0 THEN 'empty' "
        "ELSE 'ok' END AS quality_bucket",
    ]


# ------------------------------------------------------ Spark operators


def with_lang_id(docs: DataFrame) -> DataFrame:
    scores, pred = lang_id_sql()
    return docs.selectExpr("doc_id", f"{_PAD_T} AS __t").selectExpr(
        "doc_id", *scores
    ).selectExpr("doc_id", f"{pred} AS pred_lang")


def with_quality(docs: DataFrame) -> DataFrame:
    return docs.selectExpr("doc_id", *quality_sql("spark"))


def with_token_count(docs: DataFrame) -> DataFrame:
    return docs.selectExpr("doc_id", f"{token_count_sql('spark')} AS n_tokens")


def with_fingerprint(docs: DataFrame) -> DataFrame:
    return docs.selectExpr("doc_id", f"{fingerprint_sql('spark')} AS fingerprint")


def with_bpe_token_count(docs: DataFrame) -> DataFrame:
    return docs.selectExpr("doc_id", f"{bpe_token_count_sql('spark')} AS n_bpe_tokens")


def with_rolling_fingerprint(docs: DataFrame) -> DataFrame:
    return docs.selectExpr("doc_id", f"{rolling_fingerprint_sql('spark')} AS rolling_fp")


def vocab_topk(docs: DataFrame, k: int = 100) -> DataFrame:
    """Corpus vocabulary head: top-k tokens of the normalized text by
    frequency (vocabulary building / stopword discovery for a training
    pipeline). Explode → count (map-side partial agg) → TakeOrdered; ties
    broken by token for a deterministic cross-engine ranking."""
    toks = docs.select(
        F.explode(F.split(F.expr(norm_text_sql("spark")), " ")).alias("token")
    ).filter(F.length("token") > 0)
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(k)
    )


def with_simhash(docs: DataFrame, bits: int = 64) -> DataFrame:
    """64-bit SimHash (Charikar 2002) over whitespace tokens, entirely with
    built-in aggregations: explode tokens → per-bit weighted majority vote →
    recombine. JVM-side end to end; the shuffle is one groupBy(doc_id).

    Spark-native (xxhash64); checked by a numpy ground-truth in tests rather
    than a SQL oracle."""
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    ).filter(F.length("tok") > 0)
    h = F.xxhash64("tok")
    votes = [
        F.sum(
            F.when(F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long") * (2**b if b < 63 else -(2**63))).otherwise(0)
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.alias("simhash"))


def token_array_expr(dialect: str, col: str = "text") -> str:
    """Non-empty whitespace tokens of the normalized text, as an array —
    the shared base of the repetition/top-terms/span operators AND their
    DuckDB oracles (one definition, both engines)."""
    n = norm_text_sql(dialect, col)
    if dialect == "spark":
        return f"filter(split({n}, ' '), t -> t != '')"
    return f"list_filter(string_split({n}, ' '), t -> t != '')"


def ngram_array_expr(arr: str, n: int) -> str:
    """Word n-gram array from a token-array column, built by zip_with-ing
    ``n`` shifted slices — NEVER by ``transform(sequence(...), i ->
    arr[i]...)``: per-element indexing lambdas get the aliased array
    expression INLINED per element (Catalyst collapses the projection), so
    an expensive upstream (regex normalize + split) re-evaluates O(len)
    times per row — measured 12× slower at sf0.1. Slices reference the
    array once per ROW, keeping the upstream evaluation count constant."""
    m = f"(size({arr}) - {n - 1})"
    g = f"slice({arr}, 1, {m})"
    for i in range(2, n + 1):
        g = f"zip_with({g}, slice({arr}, {i}, {m}), (x, y) -> concat(x, ' ', y))"
    return f"CASE WHEN size({arr}) < {n} THEN array() ELSE {g} END"


def _rx(dialect: str, pat: str) -> str:
    """Regex pattern as a SQL string literal: Spark processes backslash
    escapes inside literals (so every ``\\`` must double), DuckDB keeps them
    raw — the same rule as ws_regex."""
    return "'" + (pat.replace("\\", "\\\\") if dialect == "spark" else pat) + "'"


#: PII scrub rules, applied in order. Full matches never overlap ACROSS
#: rules (email needs '@', ipv4 needs dots, phone's charset has neither),
#: but a SUBSTRING of an earlier rule's match can satisfy a later rule
#: (a digit-only email local part is phone-shaped) — hence counting on
#: the progressively-scrubbed text below.
PII_RULES = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
    ("phone", r"\+?[0-9][0-9()\- ]{6,}[0-9]", "<PHONE>"),
]


def pii_scrub_sql(dialect: str, col: str = "text") -> tuple[str, list[str]]:
    """(scrubbed-text expr, per-rule match-count exprs) as portable SQL.
    Each rule's count is taken on the text AS ALREADY SCRUBBED by the
    preceding rules, so counts equal the replacements actually performed
    (counting on the original would double-count e.g. a phone-shaped
    email local part that the email rule already redacted). The earlier
    rules' replace expressions nest inside later counts — a constant
    re-evaluation factor per row, still one codegen projection. The only
    dialect splits are the literal-escaping rule (_rx) and DuckDB's
    explicit 'g' flag for global replacement (Spark replaces globally by
    default)."""
    scrub = col
    counts = []
    for name, pat, repl in PII_RULES:
        lit = _rx(dialect, pat)
        if dialect == "spark":
            counts.append(
                f"CAST(size(regexp_extract_all({scrub}, {lit}, 0)) AS BIGINT) AS n_{name}"
            )
            scrub = f"regexp_replace({scrub}, {lit}, '{repl}')"
        else:
            counts.append(
                f"CAST(len(regexp_extract_all({scrub}, {lit})) AS BIGINT) AS n_{name}"
            )
            scrub = f"regexp_replace({scrub}, {lit}, '{repl}', 'g')"
    return scrub, counts


def with_pii_scrub(docs: DataFrame, col: str = "text") -> DataFrame:
    """PII scrubbing (training-data sanitization stage): redact emails,
    IPv4 addresses, and phone-shaped digit runs with typed placeholder
    tokens, and count matches per rule. Pure Catalyst regexp expressions —
    per-row, no shuffle, whole-stage codegen; the scan prunes to
    (doc_id, text)."""
    scrub, counts = pii_scrub_sql("spark", col)
    return docs.selectExpr("doc_id", f"{scrub} AS scrubbed", *counts)


def top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-``k`` characteristic terms by a log-free TF-IDF:
    score = tf / df (term frequency over corpus document frequency).

    The log-free variant is deliberate: IEEE-754 division is correctly
    rounded and therefore bit-identical across engines, while ``ln`` is a
    libm transcendental that may differ in the last ulp between the JVM and
    DuckDB — rank order (score DESC, term ASC) and the score column itself
    stay exactly cross-engine-reproducible.

    Distributed shape: groupBy(doc_id, term) with map-side combine → df as
    count(*) over that grouped table (no count_distinct Expand) → term-keyed
    equi-join (AQE skew-split covers stopword terms) → per-doc row_number
    window (bounded by per-doc vocabulary)."""
    from pyspark.sql import Window as W

    tc = (
        docs.selectExpr("doc_id", f"{token_array_expr('spark')} AS __a")
        .select("doc_id", F.explode("__a").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tc.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        tc.join(dfreq, "term")
        .withColumn("score", F.expr("CAST(tf AS DOUBLE) / df"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tf", "df", "score")
    )


def gopher_quality_filter(
    docs: DataFrame,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    max_dup_token_frac: float = 0.55,
    max_top_2gram_frac: float = 0.10,
) -> DataFrame:
    """The keep/drop gate of a Gopher-rule quality pipeline (Rae et al.
    2021): length bounds plus the repetition signals, with the FIRST failing
    rule recorded as the drop reason (rule order is part of the contract).
    Returns (doc_id, keep, reason)."""
    stats = with_repetition_stats(docs)
    reason = (
        f"CASE WHEN n_tokens < {min_tokens} THEN 'too_short' "
        f"WHEN n_tokens > {max_tokens} THEN 'too_long' "
        f"WHEN dup_token_frac > {max_dup_token_frac!r} THEN 'dup_tokens' "
        f"WHEN top_2gram_frac > {max_top_2gram_frac!r} THEN 'top_2gram' "
        "ELSE 'keep' END"
    )
    return stats.selectExpr(
        "doc_id", f"({reason}) = 'keep' AS keep", f"{reason} AS reason"
    )


def with_repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style per-document repetition signals (Rae et al. 2021 §A1.1,
    the standard web-corpus quality gate): over whitespace tokens of the
    normalized text,

    - ``dup_token_frac``  = 1 − distinct_tokens / n_tokens
    - ``top_2gram_frac``  = occurrences of the most frequent word 2-gram /
      total 2-gram slots (0.0 for docs with < 2 tokens)

    Distributed shape: ONE pass over the text — tokens and 2-grams are
    tagged structs in a single concat'd array, so the expensive
    normalize+regex+split subtree evaluates once per row (it used to feed
    two separate explode branches and execute twice — VERDICT r3 #3) —
    then explode → groupBy(doc_id, kind, term) with map-side combine and a
    per-doc conditional rollup. The distinct-count arrives as a plain
    count over the already-grouped table, NEVER as a count_distinct folded
    into a wide agg (CLAUDE.md scale rule; the conditional count adds no
    Expand — plan-asserted in tools/explain_plans.py). All keys are
    (doc_id, tag, short string); nothing shuffles raw documents.
    Zero-token docs are recovered by a left join from the doc spine with
    zero/0.0 fills.

    Returns (doc_id, n_tokens, dup_token_frac, top_2gram_frac).
    """
    base = docs.selectExpr("doc_id", f"{token_array_expr('spark')} AS __a")
    # __a is referenced several times below; CollapseProject keeps the
    # alias un-inlined because regexp_replace+split is not "cheap", so the
    # normalization runs once per row (plan-asserted).
    tagged = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "concat(transform(__a, t -> named_struct('kind', 't', 'term', t)), "
                f"transform({ngram_array_expr('__a', 2)}, "
                "g -> named_struct('kind', 'g', 'term', g)))"
            )
        ).alias("kt"),
    ).select("doc_id", F.col("kt.kind").alias("kind"), F.col("kt.term").alias("term"))
    counts = tagged.groupBy("doc_id", "kind", "term").agg(F.count(F.lit(1)).alias("c"))
    stats = counts.groupBy("doc_id").agg(
        F.sum(F.when(F.col("kind") == "t", F.col("c"))).alias("n_tokens"),
        F.count(F.when(F.col("kind") == "t", 1)).alias("n_uniq"),
        F.sum(F.when(F.col("kind") == "g", F.col("c"))).alias("n_grams"),
        F.max(F.when(F.col("kind") == "g", F.col("c"))).alias("top_c"),
    )
    return (
        docs.select("doc_id")
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.expr(
                "CASE WHEN n_tokens IS NULL OR n_tokens = 0 THEN CAST(0.0 AS DOUBLE) "
                "ELSE CAST(n_tokens - n_uniq AS DOUBLE) / n_tokens END"
            ).alias("dup_token_frac"),
            F.expr(
                "CASE WHEN n_grams IS NULL OR n_grams = 0 THEN CAST(0.0 AS DOUBLE) "
                "ELSE CAST(top_c AS DOUBLE) / n_grams END"
            ).alias("top_2gram_frac"),
        )
    )


def _pack_layout(d: DataFrame, id_col: str) -> DataFrame:
    """The deterministic global layout for sequence packing: one range
    shuffle on the md5 key + local sort + partition ids. Split out so
    tools/explain_plans.py can assert the range-partitioning shape (the
    eager localCheckpoint in pack_sequences truncates the visible plan)."""
    return (
        d.repartitionByRange("__k", id_col)
        .sortWithinPartitions("__k", id_col)
        .withColumn("__pid", F.spark_partition_id())
    )


def pack_sequences(
    docs: DataFrame, budget: int, id_col: str = "doc_id", tokens_col: str | None = None
) -> DataFrame:
    """Sequence packing for pretraining (concat-then-chunk): documents are
    laid out in a deterministic md5-hash order and the token stream is cut
    into fixed-``budget`` bins; each document gets the bin it STARTS in
    and its token offset inside that bin (documents may straddle bins —
    exactly the standard concat+chunk pretraining layout).

    Distributed shape: the global order is one ``repartitionByRange`` +
    local sort on the hash key; the global cumulative token count is the
    TWO-PHASE prefix sum — a per-partition window cumsum (partitioned by
    ``spark_partition_id()``, so no single-partition global-window
    collapse) plus tiny per-partition totals collected to the driver and
    broadcast back as prefix offsets (range partitions are ordered by
    construction). Bin assignment is pure integer arithmetic on the exact
    cumsum, so the result is independent of partition boundaries and
    engine (oracled against a DuckDB window sum).

    NULL ids: the layout orders on (md5(id), id) — a NULL id has no
    defined place (engines disagree on NULL sort placement); callers
    must filter NULL ids (the gate entries do — r7 fuzz finding).

    Returns (doc_id, n_tokens, bin_id, start_off), bins 0-based.
    """
    from pyspark.sql import Window as W

    if budget <= 0:
        raise ValueError("budget must be positive")
    if tokens_col is None:
        d = docs.selectExpr(id_col, f"{token_count_sql('spark')} AS n_tokens")
    else:
        d = docs.select(id_col, F.col(tokens_col).cast("long").alias("n_tokens"))
    d = d.withColumn("__k", F.md5(F.col(id_col).cast("string")))
    # localCheckpoint, not cache (ADVICE r3): it PINS the materialized
    # partitions, so spark_partition_id() assignment is guaranteed
    # identical between the totals collect and the final projection (a
    # cache could evict and recompute under pressure — correctness here
    # depends on stable pids), truncates lineage, and is released when
    # the DataFrame is GC'd instead of living in the cache for the
    # session lifetime. The range-shuffle plan shape is
    # asserted on _pack_layout (the checkpoint hides it from explain).
    d = _pack_layout(d, id_col).localCheckpoint(eager=True)
    w = (
        W.partitionBy("__pid")
        .orderBy("__k", id_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    d = d.withColumn("__lc", F.sum("n_tokens").over(w))
    totals = {
        r["__pid"]: r["t"]
        for r in d.groupBy("__pid").agg(F.sum("n_tokens").alias("t")).collect()
    }
    if not totals:  # empty input: empty packing (create_map needs ≥1 pair)
        return d.select(
            id_col,
            "n_tokens",
            F.lit(0).cast("long").alias("bin_id"),
            F.lit(0).cast("long").alias("start_off"),
        )
    offs, acc = {}, 0
    for pid in sorted(totals):  # range partitions are key-ordered
        offs[pid] = acc
        acc += totals[pid] or 0
    off_map = F.create_map(
        *[x for pid, off in offs.items() for x in (F.lit(pid), F.lit(off))]
    )
    start = (F.col("__lc") + off_map[F.col("__pid")] - F.col("n_tokens")).cast("long")
    return d.select(id_col, "n_tokens", start.alias("__start")).select(
        id_col,
        "n_tokens",
        F.expr(f"__start div {int(budget)}").alias("bin_id"),
        F.expr(f"__start % {int(budget)}").alias("start_off"),
    )


# ---------------------------------------- hashed linear quality classifier


def classifier_score_sql(
    dialect: str, n_buckets: int = 1024, seed: int = 7, col: str = "text"
) -> str:
    """Portable expression for a fastText-style HASHED LINEAR quality
    classifier score (Joulin et al. 2016 shape): each whitespace token
    hashes to one of ``n_buckets`` feature buckets; the score is the sum
    of the buckets' weights. The weight table is itself derived from the
    bucket id by the repo's bit-portable md5→int fragment (integers in
    [-1000, 1000]) — data, not code: a trained model ships the same
    (bucket → weight) shape as a real table.

    All arithmetic is INTEGER (bucket mod, weight mod, sum), so the score
    is engine-exact — same discipline as priority sampling's dyadic u.
    The whole thing is ONE projection over the token array (array
    referenced once per row — the r3 CollapseProject rule): no explode,
    no shuffle, whole-stage codegen end to end.
    """
    arr = token_array_expr(dialect, col)
    if dialect == "spark":
        bucket = "CAST(conv(substr(md5(t), 1, 13), 16, 10) AS BIGINT) % " + str(n_buckets)
        weight = (
            f"CAST(conv(substr(md5(concat('qw:', CAST(b AS STRING), ':', '{seed}')), 1, 13), 16, 10) AS BIGINT)"
            " % 2001 - 1000"
        )
        return (
            f"aggregate(transform(transform({arr}, t -> {bucket}), b -> {weight}), "
            "0L, (acc, x) -> acc + x)"
        )
    bucket = f"CAST(('0x' || substr(md5(t), 1, 13)) AS BIGINT) % {n_buckets}"
    weight = (
        f"CAST(('0x' || substr(md5(concat('qw:', CAST(b AS VARCHAR), ':', '{seed}'))"
        ", 1, 13)) AS BIGINT) % 2001 - 1000"
    )
    # CAST: DuckDB list_sum widens to DECIMAL/HUGEINT (the CLAUDE.md
    # integer-SUM rule) — Spark's aggregate stays BIGINT
    return (
        f"CAST(COALESCE(list_sum(list_transform(list_transform({arr}, t -> {bucket}), "
        f"b -> {weight})), 0) AS BIGINT)"
    )


def pack_batches(
    ids_df: DataFrame, budget: int, id_col: str = "doc_id", ids_col: str = "token_ids"
) -> DataFrame:
    """Materialize the packed training rows the loader actually reads:
    ``pack_sequences`` computes the concat-then-chunk LAYOUT (which bin a
    doc starts in); this fills the bins — each output row is one bin of
    exactly ``budget`` token ids (the last bin ragged), with documents
    that straddle a bin boundary split across the neighbouring rows,
    exactly the standard pretraining batch shape.

    Input: (id, token_ids array<int>). Output: (bin_id, token_ids,
    n_docs, n_tokens) where n_docs counts SEGMENTS landing in the bin (a
    straddling doc counts once per bin it touches). Zero-token docs hold
    a layout slot but contribute no ids — they are filtered before the
    bin explode (also: ``sequence(lo, hi)`` DESCENDS when hi < lo, which
    is exactly what an empty doc ending on a bin boundary would produce).

    Distributed shape: the layout's range shuffle + one id-join on the
    doc id + the final bin_id groupBy — all 8-byte-keyed except the join,
    whose payload (the id arrays) IS the deliverable. The id arrays are
    eagerly localCheckpointed once and reused by both the layout (via
    size()) and the fill, so the upstream encoder runs once. Per-bin
    state is bounded by ``budget`` ints, so executor memory is flat in
    corpus size.

    NULL ids: the fill joins layout⋈ids ON the id — a NULL key never
    equi-joins, so a NULL-id doc would silently hold a layout slot while
    contributing no ids (r7 fuzz finding); callers must filter NULL ids
    (the gate entries do).
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    b = int(budget)
    ids = ids_df.select(id_col, ids_col).localCheckpoint(eager=True)
    counts = ids.select(
        id_col, F.expr(f"CAST(size({ids_col}) AS BIGINT)").alias("__n")
    )
    layout = pack_sequences(counts, budget=b, id_col=id_col, tokens_col="__n")
    segs = (
        layout.where(F.col("n_tokens") > 0)
        .join(ids, id_col)
        .selectExpr(
            f"bin_id * {b} + start_off AS __start",
            "n_tokens AS __n",
            f"{ids_col} AS __ids",
        )
        .selectExpr(
            "*",
            f"explode(sequence(__start div {b}, (__start + __n - 1) div {b})) AS bin_id",
        )
        .selectExpr(
            "bin_id",
            f"greatest(__start, bin_id * {b}) - bin_id * {b} AS pos",
            f"slice(__ids, CAST(greatest(__start, bin_id * {b}) - __start + 1 AS INT), "
            f"CAST(least(__start + __n, (bin_id + 1) * {b}) "
            f"- greatest(__start, bin_id * {b}) AS INT)) AS piece",
        )
    )
    return segs.groupBy("bin_id").agg(
        F.expr(
            "flatten(transform(array_sort(collect_list(struct(pos, piece))), s -> s.piece))"
        ).alias("token_ids"),
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("CAST(sum(size(piece)) AS BIGINT)").alias("n_tokens"),
    )


def bigram_lm_scores(docs: DataFrame, scale: int = 1_000_000) -> DataFrame:
    """CCNet-style LM quality scoring, self-fit: fit a bigram unigram-free
    language model on the corpus (count / total, quantized to integers:
    ``pq = count * scale div total`` — exact in both engines), then score
    every document as the sum of its bigram occurrences' ``pq``. Output
    (doc_id, lm_score_q, n_bigrams, lm_avg_q); docs with fewer than two
    tokens have no bigrams and drop (the oracle's inner join does the
    same). All arithmetic is non-negative integer, so scores are
    engine-exact — the same discipline as the hashed classifier.

    Scale shape: ONE bigram-string shuffle (the model fit, map-side
    combined so the exchange carries ~distinct bigrams per map partition,
    not occurrences); the model is total-joined via a broadcast 1-row
    aggregate and joined back to the occurrence stream (AQE broadcasts it
    when the vocab is small; at an unbounded vocab this becomes the usual
    shuffled hash join on the bigram — both sides already hash cleanly);
    the final groupBy shuffles 8-byte doc_ids only. The occurrence stream
    is recomputed for the scoring pass rather than checkpointed — a scan
    + regex projection is cheaper than materializing one row per bigram
    occurrence at 10^12 docs.
    """
    toks = docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.expr(token_array_expr("spark")).alias("__a")
    )
    bg = toks.select(
        "doc_id", F.explode(F.expr(ngram_array_expr("__a", 2))).alias("bigram")
    )
    model = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("__c"))
    total = model.agg(F.sum("__c").alias("__tot"))
    pq = model.crossJoin(F.broadcast(total)).selectExpr(
        "bigram", f"__c * {int(scale)} div __tot AS __pq"
    )
    return (
        bg.join(pq, "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("__pq").alias("lm_score_q"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
        .selectExpr(
            "doc_id",
            "lm_score_q",
            "n_bigrams",
            "lm_score_q div n_bigrams AS lm_avg_q",
        )
    )


#: (column, regex class) for the charset profile — codepoint RANGES only
#: (\x{...} hex escapes resolve identically in Java regex and RE2; named
#: script properties do NOT — their Unicode tables differ by engine).
#: control excludes tab/newline/CR (legitimate whitespace) and NUL (not
#: representable in a SQL literal; NUL-bearing text still counts via the
#: other classes and total).
CHARSET_CLASSES: list[tuple[str, str]] = [
    ("n_latin", r"[A-Za-z]"),
    ("n_cjk", r"[\x{4E00}-\x{9FFF}]"),
    ("n_cyrillic", r"[\x{0400}-\x{04FF}]"),
    ("n_arabic", r"[\x{0600}-\x{06FF}]"),
    ("n_replacement", r"\x{FFFD}"),
    ("n_control", r"[\x{0001}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}]"),
]


def charset_profile_cols(dialect: str, col: str = "text") -> dict[str, str]:
    """Per-class codepoint counts + the mojibake keep-decision — the
    RefinedWeb/CCNet encoding-sanity stage (replacement chars U+FFFD mark
    decode errors; stray C0 controls mark binary-in-text). All counts via
    length-delta of a class-strip regexp_replace: length() is codepoints
    in BOTH engines (the repo's pinned astral behavior), so counts are
    engine-exact integers."""
    g = _replace_all_flag(dialect)
    out = {"n_chars_cp": f"CAST(length({col}) AS BIGINT)"}
    for name, pat in CHARSET_CLASSES:
        out[name] = (
            f"CAST(length({col}) - "
            f"length(regexp_replace({col}, {_rx(dialect, pat)}, ''{g})) AS BIGINT)"
        )
    out["charset_keep"] = "n_replacement = 0 AND n_control = 0"
    return out


def with_charset_profile(docs: DataFrame) -> DataFrame:
    """(doc_id, n_chars_cp, n_latin, n_cjk, n_cyrillic, n_arabic,
    n_replacement, n_control, charset_keep): ZERO-shuffle codegen
    projection (six regexp_replace over one row — no explode, no
    groupBy). NULL texts drop (the text-operator contract)."""
    cols = charset_profile_cols("spark")
    keep = cols.pop("charset_keep")
    out = docs.where(F.col("text").isNotNull()).select(
        "doc_id", *[F.expr(v).alias(k) for k, v in cols.items()]
    )
    return out.withColumn("charset_keep", F.expr(keep))


def with_compression_ratio(docs: DataFrame, level: int = 6) -> DataFrame:
    """(doc_id, n_bytes, n_zlib_bytes, compression_ratio_pm): Gopher's
    compression-ratio quality signal — highly repetitive/templated text
    compresses far deeper than natural prose, so a large ratio marks
    low-quality documents (Rae 2021 filters on exactly this). Ratio is
    the integer per-mille ``n_bytes * 1000 div n_zlib_bytes``.

    This is the repo's one deliberately non-SQL-expressible text signal
    (zlib has no SQL form in either engine), so it carries NO oracle
    entry: correctness is a pure-Python differential test instead
    (tests/test_textops.py). Deterministic for a pinned zlib level — and
    only LENGTHS are consumed, which are stable across zlib builds in
    practice. Arrow-batched ``mapInPandas`` (one Python pass per batch,
    never per-row UDF); NULL texts drop (text-operator contract)."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("n_zlib_bytes", T.LongType()),
            T.StructField("compression_ratio_pm", T.LongType()),
        ]
    )

    def run(batches):
        import zlib

        for pdf in batches:
            if pdf.empty:
                yield pd.DataFrame(
                    {f.name: pd.Series(dtype="int64") for f in schema.fields}
                )
                continue
            raw = [t.encode("utf-8") for t in pdf["text"]]
            nb = [len(b) for b in raw]
            nz = [len(zlib.compress(b, level)) for b in raw]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "n_bytes": nb,
                    "n_zlib_bytes": nz,
                    "compression_ratio_pm": [
                        b * 1000 // z for b, z in zip(nb, nz)
                    ],
                }
            )

    return (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", "text")
        .mapInPandas(run, schema)
    )


def ccnet_buckets(docs: DataFrame, scale: int = 1_000_000) -> DataFrame:
    """CCNet-style per-language perplexity bucketing: docs split into
    head/middle/tail thirds by LM quality within their language, the
    filter decision being "keep head+middle" (Wenzek 2019's curation
    rule). Output (doc_id, lang, lm_avg_q, ppl_bucket, ccnet_keep); docs
    with <2 tokens drop (no bigrams — same contract as the LM entry).

    Scale shape — deliberately NOT a per-lang row window (one dominant
    language would serialize the corpus through a single sorted
    partition, the r2 skew class). Instead the CCNet shape itself:
    (1) per-(lang, quantized-score) HISTOGRAM — bounded at langs×scale
    rows regardless of corpus size, map-side combined; (2) cumulative
    thirds over that tiny relation (window cost ∝ score classes, not
    docs); (3) bucket map joined back on (lang, score) — AQE broadcasts
    it when small, else it's a plain equi-join both sides already hash
    on. Ties (one score class) never split across buckets — threshold
    semantics, exactly how CCNet applies sampled perplexity cutoffs.
    All-integer arithmetic → engine-exact; lang join is NULL-SAFE
    (NULL-lang docs form their own bucket universe, not silently
    dropped — the CLAUDE.md equality-filter trap)."""
    d = (
        bigram_lm_scores(docs, scale)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "lm_avg_q")
    )
    # materialize before the fan-out: d feeds BOTH the histogram and the
    # join-back left side — without this the whole bigram-LM subtree
    # (two bigram shuffles + a doc_id groupBy) executes twice. Eager
    # localCheckpoint, not persist (CLAUDE.md r5 rule: persist leaks a
    # session-lifetime CacheManager entry per call). ~20 B/doc — cheap
    # against recomputing the scoring pass at any scale.
    return _ccnet_assign(d.localCheckpoint(eager=True))


def _ccnet_assign(d: DataFrame) -> DataFrame:
    """The post-checkpoint fan-out of :func:`ccnet_buckets`, factored out
    so plan checks can assert its shuffle shape (the `_pack_layout`
    precedent): histogram groupBy, cumulative thirds over it, null-safe
    join-back."""
    from pyspark.sql import Window

    hist = d.groupBy("lang", "lm_avg_q").agg(F.count(F.lit(1)).alias("__c"))
    wcum = Window.partitionBy("lang").orderBy(F.desc("lm_avg_q"))
    wall = Window.partitionBy("lang")
    buckets = (
        hist.withColumn("__cum", F.sum("__c").over(wcum))
        .withColumn("__n", F.sum("__c").over(wall))
        .selectExpr(
            "lang",
            "lm_avg_q",
            "CASE WHEN (__cum - __c) * 3 < __n THEN 'head' "
            "WHEN (__cum - __c) * 3 < 2 * __n THEN 'middle' "
            "ELSE 'tail' END AS ppl_bucket",
        )
    )
    joined = d.alias("L").join(
        buckets.alias("R"),
        F.expr("L.lang <=> R.lang AND L.lm_avg_q = R.lm_avg_q"),
    )
    return joined.selectExpr(
        "L.doc_id AS doc_id",
        "L.lang AS lang",
        "L.lm_avg_q AS lm_avg_q",
        "R.ppl_bucket AS ppl_bucket",
        "R.ppl_bucket <> 'tail' AS ccnet_keep",
    )


def with_classifier_score(
    docs: DataFrame, n_buckets: int = 1024, seed: int = 7, threshold: int = 0
) -> DataFrame:
    """(…docs…, quality_score BIGINT, quality_keep BOOLEAN): the hashed
    linear classifier score and its threshold decision. NULL texts drop
    (same contract as every text operator / the oracle's IS NOT NULL)."""
    return (
        docs.where(F.col("text").isNotNull())
        .withColumn(
            "quality_score",
            F.expr(classifier_score_sql("spark", n_buckets, seed)).cast("long"),
        )
        .withColumn("quality_keep", F.col("quality_score") >= F.lit(threshold))
    )
