"""Structured Streaming integration: incremental sketch maintenance.

The reference planned client-side sync via Redis Streams but never shipped
it (``/root/reference/README.md:276-285``, ``RELEASENOTES:71-77``). Here the
mergeable-aggregator design pays off directly: a streaming ``foreachBatch``
sink folds each micro-batch into a persisted sharded cuckoo filter, and
because the canonical merge is a pure function of the accumulated item
multiset, the streamed filter is BYTE-IDENTICAL to a batch build over the
same rows (tested).

Where every state change runs: on the DRIVER — a pyarrow load of the
committed state, a per-shard fold (``merged_row`` / ``add_batch``) or
removal (``removed_row``) and a write of the new state into one of two
slot files. A sink commit starts one Spark job (an Arrow collect of the
batch's hashes), a retraction two (its paragraphs are made distinct
first); neither shuffles. The commit's file I/O is two fsync'd writes
into a slot file that already exists. It deletes, renames and truncates
nothing and starts no thread, so it frees no disk blocks: on a
``discard``-mounted ext4 each freed fsync'd file had cost ~50 ms.
Memory: the committed state (``num_shards × spec.size``; ``read_state``
holds the same checked bytes as a local relation, with no Spark job)
plus 16 B per batch row or distinct retracted paragraph.
Sized for churn's 4 × 128 KiB shards with 10k-row batches, the replay's
8 × 2 MiB shards and a few retracted documents
(``test_paragraph_retraction_exact_deletion``, COOKBOOK §6). A fold that
would drop a fingerprint (a silent false negative) raises ``TooFullError``
before anything is written.

Exactly-once: the state write is guarded by the epoch id (a replayed
micro-batch is skipped, not double-counted — multiset adds are not
idempotent, so the guard is load-bearing; an epoch below the committed
one, the sign of a fresh checkpointLocation, also warns). The guard is
CRASH-ATOMIC. The state lives in two slot files, ``state.0`` and
``state.1`` (the A/B meta-page scheme of LMDB): commit ``seq`` rewrites
slot ``seq % 2``, the one not holding the newest commit, body first and
then the checksummed header that makes it the newest (``_write_commit``).
A crash at any point leaves the newest complete commit intact, so
recovery resumes from consistent state and the interrupted micro-batch
folds in exactly once on replay. Slot files are not parquet files: read
the state with :func:`read_state`.
"""

from __future__ import annotations

import functools
import hashlib
import os
import struct
import warnings
import zlib

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

from sketchlib.spark.cuckoo import (
    PARTIAL_SCHEMA,
    CuckooSpec,
    collect_hash_fp,
    folded_rows,
    removed_row,
    split_by_shard,
)

_SLOTS = ("state.0", "state.1")
#: a slot's header: magic, version, seq, epoch, retracts, body length and
#: body sha256, then the crc32 of those fields; the body follows it
_HEAD = struct.Struct("<4sHQqQQ32s")
_CRC = struct.Struct("<I")
_HEADER_BYTES = _HEAD.size + _CRC.size
_MAGIC, _VERSION = b"SKST", 1


def _slot_header(path: str) -> dict | None:
    """The commit a slot's header records, or None for an unwritten slot:
    a header of zeros, or a file shorter than one. Any other header must
    pass its magic, version and crc, or ``ValueError``."""
    with open(path, "rb") as f:
        head = f.read(_HEADER_BYTES)
    if len(head) < _HEADER_BYTES or not any(head):
        return None
    magic, version, seq, epoch, retracts, length, sha = _HEAD.unpack_from(head)
    (crc,) = _CRC.unpack_from(head, _HEAD.size)
    if (magic, version) != (_MAGIC, _VERSION) or crc != zlib.crc32(head[: _HEAD.size]):
        raise ValueError(f"{path}: corrupt slot header")
    return {"path": path, "seq": seq, "epoch": epoch, "retracts": retracts,
            "bytes": length, "sha256": sha}


def _read_commit(state_dir: str) -> dict | None:
    """The newest commit under ``state_dir``, or None before the first.
    The load rules are the store's whole contract:

    - no slot file means no commit yet, and so do two unwritten slots;
    - only one slot file raises ``FileNotFoundError``;
    - any entry besides the two slots (an earlier layout's ``epoch``
      pointer, say) raises ``ValueError``: starting from an empty filter
      there would be a silent false negative;
    - a slot header is unwritten or passes its checks (``_slot_header``),
      and a written one sits in slot ``seq % 2``, or ``ValueError``;
    - the newest ``seq`` wins; if it is ≥ 1 the other slot must hold
      ``seq − 1``, or ``ValueError`` (a slot overwritten by the other's
      copy); its body is checked by ``_state_bytes``."""
    names = set(os.listdir(state_dir))
    extra = names - set(_SLOTS)
    if extra:
        raise ValueError(f"{state_dir} holds {sorted(extra)}: not sink state")
    if not names:
        return None
    if len(names) == 1:
        raise FileNotFoundError(f"{state_dir} holds {names.pop()} without its twin slot")
    heads = [_slot_header(os.path.join(state_dir, s)) for s in _SLOTS]
    if any(h is not None and h["seq"] % 2 != i for i, h in enumerate(heads)):
        raise ValueError(f"{state_dir}: a slot holds a commit of the other slot")
    new = max((h for h in heads if h is not None), key=lambda h: h["seq"], default=None)
    if new is not None and new["seq"] > 0:
        old = heads[1 - new["seq"] % 2]
        if old is None or old["seq"] != new["seq"] - 1:
            raise ValueError(f"{state_dir}: commit {new['seq']} without commit {new['seq'] - 1}")
    return new


def _committed(state_dir: str) -> dict:
    """The newest commit; ``FileNotFoundError`` before the first commit."""
    commit = _read_commit(state_dir)
    if commit is None:
        raise FileNotFoundError(f"no committed state under {state_dir}")
    return commit


def _state_bytes(commit: dict) -> bytes:
    """The commit's body, checked against its header's length and sha256:
    a truncated, overwritten or corrupt body raises ``ValueError``."""
    with open(commit["path"], "rb") as f:
        f.seek(_HEADER_BYTES)
        data = f.read(commit["bytes"])
    if len(data) != commit["bytes"] or hashlib.sha256(data).digest() != commit["sha256"]:
        raise ValueError(f"{commit['path']}: body does not match its header's length and sha256")
    return data


def _state_table(commit: dict) -> pa.Table:
    """The committed state as a PARTIAL_SCHEMA Arrow table, read on the
    driver with pyarrow (no Spark job) from the bytes ``_state_bytes``
    checked: the one reader of the state."""
    return pq.read_table(pa.BufferReader(_state_bytes(commit)))


def _load_state(commit: dict | None) -> dict[int, dict]:
    """The committed state's PARTIAL_SCHEMA rows by shard; empty before the
    first commit."""
    if commit is None:
        return {}
    return {r["shard"]: r for r in _state_table(commit).to_pylist()}


def _replayed(commit: dict | None, epoch_id: int) -> bool:
    """Whether a sink skips ``epoch_id`` as already committed. A replay
    re-delivers only the last epoch; an older one is the sign of a restart
    with a FRESH checkpointLocation, after which every batch would be
    skipped, so that skip warns."""
    if commit is None or epoch_id > commit["epoch"]:
        return False
    if epoch_id < commit["epoch"]:
        warnings.warn(
            f"sink skipping epoch {epoch_id} < committed {commit['epoch']}: if this "
            "stream was restarted with a fresh checkpointLocation against an existing "
            "state_dir, its epoch ids restart at 0 and EVERY batch will be skipped as "
            "a replay. Keep the original checkpoint, or point the sink at a fresh state_dir.",
            RuntimeWarning,
            stacklevel=3,
        )
    return True


def _write_commit(
    state_dir: str, body: bytes, prior: dict | None, epoch: int, retracts: int = 0
) -> None:
    """Crash-atomic commit of ``body`` after ``prior`` (the newest commit,
    or None): commit ``seq`` rewrites slot ``seq % 2`` in place, which
    never holds the newest commit. The body goes after the header and is
    fsync'd, then the header and its fsync, the commit point. A crash
    before it leaves ``prior`` the newest commit. The first commit creates
    both slots, unwritten, and fsyncs the directory before it writes.

    A reader that read ``prior``'s header before this commit can still
    read its body after it: the next commit overwrites that body, and a
    reader that is later still fails the sha256 check (``_state_bytes``).
    A reader that reads a header while it is being written can see it
    torn, and fails the crc check (``_slot_header``)."""
    seq = 0 if prior is None else prior["seq"] + 1
    if prior is None:
        for s in _SLOTS:
            open(os.path.join(state_dir, s), "ab").close()
        fd = os.open(state_dir, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
    head = _HEAD.pack(_MAGIC, _VERSION, seq, epoch, retracts, len(body),
                      hashlib.sha256(body).digest())
    with open(os.path.join(state_dir, _SLOTS[seq % 2]), "r+b") as f:
        for offset, data in ((_HEADER_BYTES, body), (0, head + _CRC.pack(zlib.crc32(head)))):
            f.seek(offset)
            f.write(data)
            f.flush()
            os.fsync(f.fileno())


@functools.cache
def _arrow_schema() -> pa.Schema:
    # parsing the DDL string is a py4j call: once per process, not per commit
    return to_arrow_schema(_parse_datatype_string(PARTIAL_SCHEMA))


def _commit_state(
    state_dir: str, rows: dict, prior: dict | None, epoch: int, retracts: int = 0
) -> None:
    """Commits the PARTIAL_SCHEMA ``rows`` (by shard), in shard order, as
    one zstd parquet body (``_write_commit``)."""
    table = pa.Table.from_pylist([rows[s] for s in sorted(rows)], schema=_arrow_schema())
    buf = pa.BufferOutputStream()
    # zstd: a third smaller than snappy on half-empty bucket arrays
    pq.write_table(table, buf, compression="zstd")
    _write_commit(state_dir, buf.getvalue().to_pybytes(), prior, epoch, retracts)


def incremental_cuckoo_sink(spec: CuckooSpec, key, state_dir: str, mode: str = "canonical"):
    """Returns a ``foreachBatch`` function maintaining a merged cuckoo
    filter under ``state_dir`` (one PARTIAL_SCHEMA row per shard in the
    newest of two slot files; read it back with :func:`read_state`).

    Each commit folds on the driver; the module docstring gives the path,
    its memory bound and the sizes it was checked at.

    Cost trade-off, selected by ``mode``:

    - ``"canonical"`` (default): re-merge each touched shard's full pair
      multiset every micro-batch (``CuckooFilter.merge``) — per-batch cost
      grows with TOTAL filter content, but the state is BYTE-IDENTICAL to
      a batch build over the same rows (replay/repair and cross-path
      verification by blob comparison).
    - ``"fast"``: add only the new batch's canonical pairs to the existing
      dense blobs (``CuckooFilter.add_batch``) — per-batch cost is O(batch).
      Same fp multiset, so membership/count/remove semantics stay EXACTLY
      equal to the canonical path (tested); only the byte layout diverges.
      Re-canonicalize offline (``merge_partials`` over the state) when a
      byte-comparable blob is needed.

    A fold that would drop a fingerprint raises ``TooFullError`` before
    anything is written (see the module docstring). Rows with a NULL key
    are skipped. A replayed epoch is skipped; an epoch below the committed
    one also warns (:func:`_replayed`).

    Usage::

        q = (stream.writeStream
             .foreachBatch(incremental_cuckoo_sink(spec, F.col("url"), dir))
             .start())
    """

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        os.makedirs(state_dir, exist_ok=True)
        commit = _read_commit(state_dir)
        if _replayed(commit, epoch_id):
            return
        h, f = collect_hash_fp(batch_df, key)
        rows = folded_rows(spec, _load_state(commit), h, f, mode)
        _commit_state(state_dir, rows, commit, epoch_id)

    return sink


def read_state(spark, state_dir: str) -> DataFrame:
    """The current committed filter state of an
    :func:`incremental_cuckoo_sink` (its newest commit) as a DataFrame
    with PARTIAL_SCHEMA's columns.

    The rows are the checked bytes read on the driver (``_state_table``),
    held as a local relation: neither this call nor a collect of its
    result (``ShardedCuckoo.from_df``) starts a Spark job, and the result
    never reads the state directory again, however far the stream
    advances. State that breaks a load rule raises (``_read_commit``,
    ``_state_bytes``)."""
    return spark.createDataFrame(_state_table(_committed(state_dir)))


def incremental_paragraph_dedup_sink(spec: CuckooSpec, state_dir: str, out_dir: str):
    """``foreachBatch`` sink: Dolma-style corpus-wide paragraph dedup
    over a CONTINUOUS document stream — the crawl-ingestion shape, where
    "the corpus" is every batch seen so far. The accumulated dedup state
    is this repo's sharded cuckoo filter (the kernel's streaming
    use-case): membership answers "seen in any prior batch", deletions
    stay available for retraction workflows.

    Per micro-batch (exactly-once via the crash-atomic slot commit):
      1. explode to normalized paragraphs (``dedup.paragraph_table`` —
         the SAME identity as the batch operator);
      2. PROBE the committed filter — no false negatives, so a duplicate
         paragraph is NEVER emitted twice across the stream; a false
         positive (bounded by ``spec.fpsize``) drops a novel paragraph,
         the same trade Dolma's bloom-filter dedup makes;
      3. within-batch first occurrence by (doc_id, pos) over the 8-byte
         paragraph hash (the batch operator's window, scoped to the
         batch);
      4. keep = unseen ∧ first; fold the kept paragraphs into the
         committed state on the driver (O(batch) fast fold, raising
         ``TooFullError`` before any write if a fingerprint would drop);
      5. reassemble docs in paragraph order, append (doc_id, kept_text,
         n_paras, n_kept, epoch) under ``out_dir/batch_epoch{N}``, then
         commit the state.

    The state is loaded once per batch with pyarrow and serves both the
    probe's broadcast and the fold; the memory bound and traffic are
    those in the module docstring (8 shards × 2 MiB in the
    ``streaming_paragraph_dedup_replay`` gate entry).

    With micro-batches arriving in doc_id order the emitted corpus equals
    the batch :func:`sketchlib.dedup.paragraph_dedup` over the
    concatenated input (parity-tested); under arbitrary arrival order the
    first ARRIVAL wins instead of the smallest (doc_id, pos) — the
    streaming-semantics difference, documented not hidden.

    The replay guard is the cuckoo sink's (:func:`_replayed`): resuming
    must reuse the original checkpointLocation, and an epoch strictly
    below the committed one warns instead of dropping data silently."""
    from pyspark.sql import Window

    from sketchlib.dedup import paragraph_table
    from sketchlib.spark.cuckoo import ShardedCuckoo, probe

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        os.makedirs(state_dir, exist_ok=True)
        os.makedirs(out_dir, exist_ok=True)
        commit = _read_commit(state_dir)
        if _replayed(commit, epoch_id):
            return  # output + state already committed
        prior = _load_state(commit)
        paras = paragraph_table(batch_df)
        if prior:
            sc = ShardedCuckoo.from_rows(prior.values(), spec)
            paras = probe(paras, sc, key=F.col("__norm"), result_col="__seen")
        else:
            paras = paras.withColumn("__seen", F.lit(False))
        w = Window.partitionBy(F.xxhash64("__norm")).orderBy("doc_id", "pos")
        marked = paras.withColumn(
            "keep", (F.row_number().over(w) == 1) & ~F.col("__seen")
        ).localCheckpoint(eager=True)  # fans out into output + state fold
        h, f = collect_hash_fp(marked.where("keep"), F.col("__norm"))
        rows = folded_rows(spec, prior, h, f, "fast")
        out = marked.groupBy("doc_id").agg(
            F.expr(
                "concat_ws('\\n', transform(array_sort("
                "collect_list(CASE WHEN keep THEN struct(pos, para) END)), s -> s.para))"
            ).alias("kept_text"),
            F.count(F.lit(1)).alias("n_paras"),
            F.expr("CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)").alias(
                "n_kept"
            ),
            F.lit(int(epoch_id)).alias("epoch"),
        )
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_epoch{epoch_id}")
        )
        _commit_state(state_dir, rows, commit, epoch_id)

    return sink


def retract_paragraphs_from_state(
    spec: CuckooSpec, state_dir: str, kept_docs: DataFrame
) -> int:
    """Retract previously-emitted documents from the paragraph-dedup
    stream state — the takedown/GDPR workflow, and the reason the state
    is a CUCKOO filter rather than a bloom filter: CF.REM gives EXACT
    deletion (the reference's core differentiator), so after retraction
    a future re-ingestion of the same paragraphs keeps them again.

    ``kept_docs``: the (doc_id, kept_text) rows the sink EMITTED for the
    docs being retracted (take them from the sink's output — they are,
    by construction, exactly the paragraph classes whose filter entry
    those docs own). Retracting paragraphs that were never kept removes
    non-members and permanently poisons the touched shard (reference
    poison-on-miss semantics — loud, not silent). Returns the number of
    distinct paragraph classes removed. Commits crash-atomically, counting
    the retraction in the header's ``retracts``; the epoch counter is
    untouched, so the stream's replay guard is unaffected.

    The removal runs on the driver, on the sinks' commit path (module
    docstring): one Arrow collect of the distinct paragraphs' (hash, fp),
    then ``remove_keys``' per-shard ``removed_row``, so the bytes are the
    same (tested). Memory: the committed state plus 16 B per distinct
    paragraph; traffic: two Spark jobs and no shuffle of the state.
    ``remove_keys`` stays the path for unbounded key sets."""
    from sketchlib.dedup import paragraph_table

    commit = _committed(state_dir)
    rows = _load_state(commit)
    paras = paragraph_table(kept_docs.select("doc_id", F.col("kept_text").alias("text")))
    # distinct strings, not hashes: two norms with colliding hashes are two removals
    h, f = collect_hash_fp(paras.select("__norm").distinct(), F.col("__norm"))
    for s, (h_s, f_s) in split_by_shard(h, f, spec.num_shards).items():
        rows[s] = removed_row(spec, spec.name, s, rows.get(s), h_s, f_s)
    _commit_state(state_dir, rows, commit, commit["epoch"], commit["retracts"] + 1)
    return len(h)
