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
removal (``removed_row``), a pyarrow write and the pointer flip. A sink
commit starts one Spark job (an Arrow collect of the batch's hashes), a
retraction two (its paragraphs are made distinct first); neither shuffles.
The commit's file I/O on the caller's thread is one mkdir, two fsync'd
writes (state file, pointer), one hard link and a few renames; it frees
no disk blocks. Retired state moves into ``state_dir/.trash`` and one
background worker deletes it, because on a ``discard``-mounted ext4 each
freed fsync'd file cost ~50 ms, most of a 204 ms commit (``_commit_state``).
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
CRASH-ATOMIC: each epoch's merged state is written to its own directory,
then ``epoch.json`` — recording the epoch and the state file's directory,
length and sha256 (checked on every load) — is atomically replaced
(write-tmp + os.replace). A crash at any point leaves the previous
epoch.json (and the directory it points to) intact, so recovery resumes
from consistent state and the interrupted micro-batch folds in exactly
once on replay.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import json
import os
import shutil
import uuid
import warnings
from concurrent.futures import Future, ThreadPoolExecutor

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

_STATE_FILE = "part-00000.parquet"


def _read_commit(state_dir: str) -> dict | None:
    """The committed ``epoch.json`` pointer, or None before the first commit."""
    epoch_path = os.path.join(state_dir, "epoch.json")
    if not os.path.exists(epoch_path):
        return None
    with open(epoch_path) as f:
        return json.load(f)


def _committed(state_dir: str) -> dict:
    """The committed pointer; ``FileNotFoundError`` before the first commit."""
    commit = _read_commit(state_dir)
    if commit is None:
        raise FileNotFoundError(f"no committed state under {state_dir}")
    return commit


def _state_bytes(commit: dict) -> bytes:
    """The committed state file's bytes, checked against the length and
    sha256 in ``epoch.json``: a missing file raises ``FileNotFoundError``,
    a truncated, replaced or corrupt one ``ValueError``, and so does a
    pointer without those fields, which nothing could check."""
    if "bytes" not in commit or "sha256" not in commit:
        raise ValueError("epoch.json carries no length and sha256 for its state file")
    path = os.path.join(commit["state"], _STATE_FILE)
    with open(path, "rb") as f:
        data = f.read()
    if len(data) != commit["bytes"] or hashlib.sha256(data).hexdigest() != commit["sha256"]:
        raise ValueError(f"{path} does not match the length and sha256 in epoch.json")
    return data


def _state_table(commit: dict) -> pa.Table:
    """The committed state as a PARTIAL_SCHEMA Arrow table, read on the
    driver with pyarrow (no Spark job) from the bytes ``_state_bytes``
    checked: the one reader of the state file."""
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


def _retire(path: str, trash: str) -> None:
    """Move ``path`` (a file or directory), if it exists, into ``trash``
    under a unique name: a rename frees no blocks, and a crashed epoch
    replayed under the same name never collides with its earlier copy."""
    with contextlib.suppress(FileNotFoundError):
        os.rename(path, os.path.join(trash, f"{os.path.basename(path)}.{uuid.uuid4().hex}"))


def _empty_trash(trash: str) -> None:
    """Delete everything in ``trash``; runs on the reclaim worker."""
    with contextlib.suppress(OSError):  # what is left is reclaimed after the next commit
        for e in os.listdir(trash):
            path = os.path.join(trash, e)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.unlink(path)


_RECLAIM = ThreadPoolExecutor(1, thread_name_prefix="sketchlib-reclaim")
_last_reclaim: Future | None = None


def _reclaimed() -> None:
    """Wait until the reclaim worker has emptied every trash handed to it."""
    if _last_reclaim is not None:
        _last_reclaim.result()


@functools.cache
def _arrow_schema() -> pa.Schema:
    # parsing the DDL string is a py4j call: once per process, not per commit
    return to_arrow_schema(_parse_datatype_string(PARTIAL_SCHEMA))


def _commit_state(
    state_dir: str, rows: dict, name: str, pointer: dict, prior: dict | None
) -> None:
    """Crash-atomic commit of a new filter state: the PARTIAL_SCHEMA
    ``rows`` (by shard) land in shard order as one fsync'd parquet file in
    their own ``state_dir/name`` directory, then ``epoch.json`` (``pointer``
    plus the new state path and the file's length and sha256, which every
    load checks) flips via an fsync'd tmp file and ``os.replace`` only
    after the write succeeded.

    GC keeps the new AND the ``prior`` commit's state directory, for one
    reader only: one that read the old pointer before this commit and
    opens the state file after it.

    The caller's thread frees no disk blocks. On an ext4 volume mounted
    with ``discard`` (measured on a 4-core VM), freeing blocks that were
    fsync'd costs ~50 ms per file: an ``unlink`` took 42–60 ms and an
    ``os.replace`` over the old pointer 45–49 ms, while a ``rename`` to a
    new name or a ``mkdir`` took ~0 ms; those two frees made up most of a
    204 ms commit. So every retired directory (each non-kept ``state_epoch*``
    and a crashed earlier attempt at ``name``) is renamed into
    ``state_dir/.trash``, the old pointer is hard-linked there before the
    replace (which then only drops a link), and one background worker
    empties the trash after the commit. A trash left by a crash is
    emptied after the next commit. The commit's I/O on the caller's
    thread: one mkdir, two fsync'd file writes, one link and renames."""
    trash = os.path.join(state_dir, ".trash")
    os.makedirs(trash, exist_ok=True)
    new_state = os.path.join(state_dir, name)
    _retire(new_state, trash)  # a crashed earlier attempt
    os.makedirs(new_state)
    table = pa.Table.from_pylist([rows[s] for s in sorted(rows)], schema=_arrow_schema())
    buf = pa.BufferOutputStream()
    # zstd: a third smaller than snappy on half-empty bucket arrays
    pq.write_table(table, buf, compression="zstd")
    data = buf.getvalue().to_pybytes()
    with open(os.path.join(new_state, _STATE_FILE), "wb") as f:
        f.write(data)
        f.flush()
        os.fsync(f.fileno())
    check = {"bytes": len(data), "sha256": hashlib.sha256(data).hexdigest()}
    epoch_path = os.path.join(state_dir, "epoch.json")
    tmp = epoch_path + ".tmp"
    _retire(tmp, trash)  # a crashed earlier attempt; reopening would truncate it
    with open(tmp, "w") as f:
        json.dump({**pointer, "state": new_state, **check}, f)
        f.flush()
        os.fsync(f.fileno())
    keep = {name}
    if prior is not None:
        keep.add(os.path.basename(prior["state"]))
        os.link(epoch_path, os.path.join(trash, f"epoch.json.{uuid.uuid4().hex}"))
    os.replace(tmp, epoch_path)
    for d in os.listdir(state_dir):
        if d.startswith("state_epoch") and d not in keep:
            _retire(os.path.join(state_dir, d), trash)
    global _last_reclaim
    _last_reclaim = _RECLAIM.submit(_empty_trash, trash)


def incremental_cuckoo_sink(spec: CuckooSpec, key, state_dir: str, mode: str = "canonical"):
    """Returns a ``foreachBatch`` function maintaining a merged cuckoo
    filter under ``state_dir`` (one parquet row per shard, current epoch
    resolved via ``epoch.json``; read it back with :func:`read_state`).

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
        _commit_state(state_dir, rows, f"state_epoch{epoch_id}", {"epoch": epoch_id}, commit)

    return sink


def read_state(spark, state_dir: str) -> DataFrame:
    """The current committed filter state of an
    :func:`incremental_cuckoo_sink` (resolved through the atomic epoch.json
    pointer) as a DataFrame with PARTIAL_SCHEMA's columns.

    The rows are the checked bytes read on the driver (``_state_table``),
    held as a local relation: neither this call nor a collect of its
    result (``ShardedCuckoo.from_df``) starts a Spark job, and the result
    never reads the state directory again, however far the stream
    advances. A missing or mismatching state file, or a pointer without
    its length and sha256, raises (``_state_bytes``)."""
    return spark.createDataFrame(_state_table(_committed(state_dir)))


def incremental_paragraph_dedup_sink(spec: CuckooSpec, state_dir: str, out_dir: str):
    """``foreachBatch`` sink: Dolma-style corpus-wide paragraph dedup
    over a CONTINUOUS document stream — the crawl-ingestion shape, where
    "the corpus" is every batch seen so far. The accumulated dedup state
    is this repo's sharded cuckoo filter (the kernel's streaming
    use-case): membership answers "seen in any prior batch", deletions
    stay available for retraction workflows.

    Per micro-batch (exactly-once via the crash-atomic epoch pointer):
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
         n_paras, n_kept, epoch) under ``out_dir/batch_epoch{N}`` and
         flip ``epoch.json``.

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
        _commit_state(state_dir, rows, f"state_epoch{epoch_id}", {"epoch": epoch_id}, commit)

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
    distinct paragraph classes removed. Commits crash-atomically under a
    retract-suffixed state directory; the epoch counter is untouched, so
    the stream's replay guard is unaffected.

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
    k = int(commit.get("retracts", 0)) + 1
    _commit_state(
        state_dir,
        rows,
        f"state_epoch{commit['epoch']}r{k}",
        {"epoch": commit["epoch"], "retracts": k},
        commit,
    )
    return len(h)
