"""Streaming ingestion path.

Reference semantics → Spark realization (SURVEY.md §2.2.6):
- buffered rows flushed on size/time thresholds (README.md:20-22)
  → micro-batch trigger (processingTime / availableNow); the buffer IS
  the micro-batch.
- merge-time dedup by `_dedup` within a time bucket (README.md:15,22,31)
  → `withWatermark(_ts, gap).dropDuplicatesWithinWatermark([_dedup])`:
  state is bounded by the watermark (no unbounded dedup state — the
  100TB-stream concern in SURVEY.md §7.4.4).
- time-partitioned segments (README.md:27) → foreachBatch append
  partitioned by `_ts_day` through batch ingest's writer, which also
  keeps the table's schema record — batch and streaming land in one
  table.
- `bin()`/session windows on live data → window()/session_window()
  aggregations with watermarks.

The keeper streams (near-dup, MinHash, IVF, heavy hitters, weighted
reservoir, HLL, t-digest) fold each micro-batch into persisted state.
They share one writer (_start), one exactly-once guard (_once, which
documents the replay protocol) and, for the merge-fold keepers, one
immutable-epoch-dir fold (_fold_summary_epoch) and one pointer read
(_read_latest).
"""

from __future__ import annotations

import hashlib
import os
import shutil
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from meerkat_spark.ingest.batch import DEDUP_COL, TS_COL, _append, _ensure_system_columns


def _start(
    stream_df: DataFrame, checkpoint: str, step, trigger_once: bool
) -> StreamingQuery:
    """Run `step(batch_df, epoch_id)` under foreachBatch. Micro-batches
    run sequentially, so epoch N sees epoch N-1's state. `trigger_once`
    catches up on what is available and stops; otherwise the stream
    triggers every 5 seconds."""
    writer = (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(step)
    )
    if trigger_once:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime="5 seconds").start()


def start_stream_ingest(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    watermark: str = "10 minutes",
    trigger_once: bool = True,
) -> StreamingQuery:
    """readStream source → system-column enforcement → watermark-bounded
    dedup → time-partitioned Parquet append via foreachBatch."""
    prepared = _ensure_system_columns(stream_df)
    deduped = (
        prepared.withWatermark(TS_COL, watermark)
        .dropDuplicatesWithinWatermark([DEDUP_COL])
    )

    def _write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        _append(batch_df, out_path)

    return _start(deduped, checkpoint, _write_batch, trigger_once)


def streaming_window_counts(
    stream_df: DataFrame,
    window_size: str = "1 hour",
    watermark: str = "30 minutes",
    ts_col: str = TS_COL,
    key_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window counts with late-data handling — the streaming
    realization of `summarize count() by bin(_ts, 1h), key`."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_size), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            key_col,
            "n",
        )
    )


def _stream_id_of(checkpoint: str) -> str:
    return hashlib.sha1(checkpoint.encode()).hexdigest()[:10]


def _ns(stream_id: str | None) -> str:
    return f"{stream_id}-" if stream_id else ""


def _once(path: str, epoch_id: int, stream_id: str | None, apply) -> None:
    """Apply one epoch to the keeper state at `path` exactly once.

    Structured Streaming's foreachBatch is at-least-once: after a crash
    between a step's side effect and the checkpoint commit, the SAME
    epoch_id is delivered again. So each completed epoch leaves a marker
    `<path>/_epochs/epoch-<sid>-<n>`, written only after `apply()`
    returns, and a redelivered epoch whose marker exists is skipped
    wholesale. On an object store the marker write becomes a
    conditional put.

    `stream_id` (each front-end derives it from its checkpoint with
    _stream_id_of) namespaces the markers: re-pointing a stream at a
    fresh checkpoint restarts epoch ids at 0, and those must not read
    as already applied. Deleting a checkpoint IN PLACE still requires
    clearing `<path>/_epochs/`.

    An epoch that crashed before its marker re-runs `apply()` in full,
    so each keeper's `apply` converges from its own partial state:
    - near-dup / MinHash: the ingest job's indexed-id anti-join
      (ingest/neardup_maintenance._skip_already_indexed) turns
      already-appended rows into no-ops;
    - IVF: the re-extend leaves duplicate rows that the maintenance
      cadence removes (ivf_ingest_step);
    - merge-fold keepers: immutable epoch dirs (_fold_summary_epoch).
    """
    marker = os.path.join(path, "_epochs", f"epoch-{_ns(stream_id)}{int(epoch_id)}")
    if os.path.exists(marker):
        return
    apply()
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    with open(marker, "w"):
        pass


def _read_latest(spark, path: str) -> tuple[str, DataFrame]:
    """The summary dir the `_latest` pointer names, and a lazy frame
    over it."""
    with open(os.path.join(path, "_latest")) as f:
        name = f.read().strip()
    return name, spark.read.parquet(os.path.join(path, name))


def _fold_summary_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    summary_path: str,
    fold,
    stream_id: str | None = None,
) -> None:
    """One epoch of a MERGE-FOLD keeper (heavy_hitters_step,
    weighted_sample_step, hll_distinct_step, tdigest_step): persist
    `fold(current, batch_df)`, where `current` is the state at the
    `_latest` pointer (None before the first epoch), exactly once.

    The state is a merge-sum, so the row-wise healing of the index
    keepers cannot apply: re-folding a half-applied epoch would
    double-count. Instead each epoch writes an IMMUTABLE dir
    `summary-<sid>-<n>` (tmp + atomic rename), then moves the `_latest`
    pointer to it (tmp + rename), then _once commits the `_epochs/`
    marker. The fold always reads the pointer's dir, which only moves
    once the new dir is complete, so a replay at any crash point
    converges to the state of an uncrashed run:
      - marker present          -> skipped wholesale;
      - dir complete (marker    -> the dir is adopted: pointer and
        lost or pointer behind)    marker commit, no re-fold;
      - otherwise               -> recomputed from the unmoved pointer
                                   target (folds are deterministic).

    When the pointer moves, every `summary-*` dir except the previous
    and the new pointer target is deleted. The previous target is the
    reader grace window: the read_* functions hand out lazy frames over
    the pointer's dir, and under a continuously triggered stream the
    next fold would otherwise delete it while a consumer collects. A
    held frame survives one fold; collect or cache it before holding it
    across more (the state is sketch-sized). State on disk is at most
    two epochs' summaries. Single writer per path, like the index
    compactions.
    """
    name = f"summary-{_ns(stream_id)}{int(epoch_id)}"
    pointer = os.path.join(summary_path, "_latest")

    def apply() -> None:
        os.makedirs(summary_path, exist_ok=True)
        previous, current = (
            _read_latest(batch_df.sparkSession, summary_path)
            if os.path.isfile(pointer)
            else (None, None)
        )
        target = os.path.join(summary_path, name)
        if not os.path.isdir(target):
            fold(current, batch_df).write.mode("overwrite").parquet(target + ".tmp")
            os.replace(target + ".tmp", target)
        if previous == name:
            return
        with open(pointer + ".tmp", "w") as f:
            f.write(name)
        os.replace(pointer + ".tmp", pointer)
        for d in os.listdir(summary_path):
            if d.startswith("summary-") and d not in (previous, name):
                shutil.rmtree(os.path.join(summary_path, d), ignore_errors=True)

    _once(summary_path, epoch_id, stream_id, apply)


# ------------------------------------------- index keepers (row-wise heal)


def _index_keeper_step(
    ingest, batch_df, epoch_id, index_path, keepers_path, stream_id, **kwargs
) -> None:
    """The shared body of the near-dup and MinHash keeper steps."""

    def apply() -> None:
        if batch_df.head(1):
            keepers, _pairs = ingest(batch_df, index_path, **kwargs)
            if keepers_path:
                keepers.write.mode("append").parquet(keepers_path)

    _once(index_path, epoch_id, stream_id, apply)


def neardup_keeper_step(
    batch_df: DataFrame,
    epoch_id: int,
    index_path: str,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keepers_path: str | None = None,
    stream_id: str | None = None,
) -> None:
    """ONE idempotent foreachBatch epoch of the near-dup keeper loop
    (ingest_neardup_batch) — module-level so the replay tests can drive
    it directly. Replay protocol: _once. `keepers_path` is a convenience
    log of per-epoch keepers; the authoritative keeper set is the
    index's vectors table (a crash between the index append and this
    log can under-record one epoch's keepers in the log, never in the
    index)."""
    from meerkat_spark.ingest.neardup_maintenance import ingest_neardup_batch

    _index_keeper_step(
        ingest_neardup_batch, batch_df, epoch_id, index_path, keepers_path,
        stream_id, threshold=threshold, id_col=id_col, vec_col=vec_col,
    )


def minhash_keeper_step(
    batch_df: DataFrame,
    epoch_id: int,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    verify_jaccard: float | None = None,
    corpus: DataFrame | None = None,
    keepers_path: str | None = None,
    stream_id: str | None = None,
) -> None:
    """Text twin of neardup_keeper_step: one idempotent foreachBatch
    epoch of the MinHash keeper loop over the incremental text index
    (text/dedup_index.py, ingest_minhash_batch). Replay protocol:
    _once."""
    from meerkat_spark.ingest.neardup_maintenance import ingest_minhash_batch

    _index_keeper_step(
        ingest_minhash_batch, batch_df, epoch_id, index_path, keepers_path,
        stream_id, id_col=id_col, text_col=text_col,
        verify_jaccard=verify_jaccard, corpus=corpus,
    )


def start_neardup_ingest_stream(
    stream_df: DataFrame,
    index_path: str,
    checkpoint: str,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keepers_path: str | None = None,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Streaming front-end for the incremental embedding near-dup
    KEEPER loop (ingest/neardup_maintenance.ingest_neardup_batch): each
    micro-batch is deduped against the persisted sign-LSH index AND
    itself, only the keepers' postings/vectors are appended, and
    (optionally) the keepers land in a parquet table at `keepers_path`.
    Semantics are EXACTLY the per-batch job's — streaming adds replay
    machinery (_once), not new rules — which is what the batch-vs-stream
    parity test pins (tests/test_streaming_parity.py). Sequential
    micro-batches let batch N see batch N-1's postings. The index must
    already exist (build_neardup_index seeds the params/planes)."""
    step = partial(
        neardup_keeper_step, index_path=index_path, threshold=threshold,
        id_col=id_col, vec_col=vec_col, keepers_path=keepers_path,
        stream_id=_stream_id_of(checkpoint),
    )
    return _start(stream_df, checkpoint, step, trigger_once)


def start_minhash_ingest_stream(
    stream_df: DataFrame,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    keepers_path: str | None = None,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Streaming front-end for the incremental MinHash TEXT keeper
    loop — the document-corpus twin of start_neardup_ingest_stream.
    The index must already exist (build_minhash_index). The
    verify_jaccard mode needs a corpus side-input and is a batch-job
    concern — the streaming path runs the default high-recall
    band-collision keeper."""
    step = partial(
        minhash_keeper_step, index_path=index_path, id_col=id_col,
        text_col=text_col, keepers_path=keepers_path,
        stream_id=_stream_id_of(checkpoint),
    )
    return _start(stream_df, checkpoint, step, trigger_once)


def ivf_ingest_step(
    batch_df: DataFrame,
    epoch_id: int,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    maintain_every: int = 10,
    stream_id: str | None = None,
    maintain_kwargs: dict | None = None,
    allow_rebuild: bool = False,
) -> None:
    """ONE idempotent foreachBatch epoch of IVF index ingestion:
    extend with the frozen build routing, then every `maintain_every`
    epochs run maintain_ivf_index (compacts small-file/duplicate debt;
    a 'rebuild' diagnosis is only reported unless `allow_rebuild`).
    `maintain_kwargs` passes threshold overrides through to
    maintain_ivf_index (files_per_cell_compact, skew_rebuild_ratio).

    Replay (see _once): extend has NO per-row anti-join (it would scan
    the full id column per batch), so a HALF-applied epoch's re-run
    leaves duplicate rows — byte-identical under the frozen routing —
    which the periodic maintenance pass detects (n_duplicate_rows) and
    heals exactly.

    `allow_rebuild=True` (r14) opts the in-stream cadence into the full
    drift loop: a 'rebuild' diagnosis re-trains the routing via
    rebuild_ivf_index's atomic `.rebuild-<uuid>` tmp + `.old-<uuid>`
    swap. The marker commits only AFTER maintenance, so a crash at ANY
    point of an in-stream rebuild replays the whole epoch; the step's
    entry sweep (_sweep_stale_swaps on the index root) first restores
    the live index when the crash landed between the two swap renames
    (the `.old-*` residue is then the only copy), and rebuild's own
    entry sweep reclaims orphaned `.rebuild-*` trains. A replayed epoch
    converges to the same index as an uncrashed run
    (tests/test_replay_idempotence.py pins all three crash states)."""
    from meerkat_spark.ingest.neardup_maintenance import _sweep_stale_swaps
    from meerkat_spark.similarity.ivf_index import (
        extend_ivf_index,
        maintain_ivf_index,
    )

    maintain_kwargs = dict(maintain_kwargs or {})
    maintain_kwargs.setdefault("allow_rebuild", allow_rebuild)

    def apply() -> None:
        _sweep_stale_swaps(index_path.rstrip("/"))
        if batch_df.head(1):
            extend_ivf_index(batch_df, index_path, id_col=id_col, vec_col=vec_col)
        if maintain_every and int(epoch_id) % int(maintain_every) == 0:
            maintain_ivf_index(batch_df.sparkSession, index_path, **maintain_kwargs)

    _once(index_path, epoch_id, stream_id, apply)


def start_ivf_ingest_stream(
    stream_df: DataFrame,
    index_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    maintain_every: int = 10,
    trigger_once: bool = True,
    maintain_kwargs: dict | None = None,
    allow_rebuild: bool = False,
) -> StreamingQuery:
    """Streaming ingestion into a persisted IVF ANN index — the
    searchable-index twin of the dedup keeper streams: each micro-batch
    extends the index under the build-time routing (identical vectors
    land in identical cells, so recall contracts survive streaming),
    and the built-in maintenance cadence keeps file-count and
    replay-duplicate debt bounded while the stream runs. The index
    must already exist (build_ivf_index trains the routing). By
    default streaming never re-trains — watch ivf_index_stats'
    skew_ratio and rebuild offline when the appended distribution
    drifts; `allow_rebuild=True` (r14) opts the cadence into running
    rebuild_ivf_index itself on a 'rebuild' diagnosis, under the
    crash-replay protocol documented on ivf_ingest_step. Re-training
    moves cell boundaries (near-boundary approximate results may
    change mid-stream), which is why it stays opt-in."""
    step = partial(
        ivf_ingest_step, index_path=index_path, id_col=id_col,
        vec_col=vec_col, maintain_every=maintain_every,
        stream_id=_stream_id_of(checkpoint),
        maintain_kwargs=maintain_kwargs, allow_rebuild=allow_rebuild,
    )
    return _start(stream_df, checkpoint, step, trigger_once)


# --------------------------------------------------------- merge-fold keepers


def heavy_hitters_step(
    batch_df: DataFrame,
    epoch_id: int,
    summary_path: str,
    key_col: str,
    capacity: int = 4096,
    weight_col: str | None = None,
    stream_id: str | None = None,
) -> None:
    """ONE idempotent foreachBatch epoch of streaming heavy hitters:
    Misra-Gries-summarize the batch (operators/sketches.py) and merge it
    into the persisted summary with the mergeable-summaries merge. The
    stored state is sketch-sized — <= capacity keys (+ the error
    sentinel) from the FIRST epoch on: the raw per-partition summary
    can hold up to capacity x partitions keys, so every epoch
    (including the first) is re-evicted through merge_mg_summaries
    before persisting (ADVICE r13). The MG bounds (est <= true <= est +
    err, err <= N_total/(capacity+1) per fold, summed across folds)
    hold over EVERYTHING ingested since the summary was born. Replay
    protocol and reader grace window: _fold_summary_epoch."""
    from meerkat_spark.operators.sketches import (
        merge_mg_summaries,
        misra_gries_summary,
    )

    def fold(current, batch):
        # keep_total_row throughout: the STORED representation carries
        # the NULL-key error sentinel, so a batch whose counters all
        # evicted still contributes its error mass to later merges
        # (read_heavy_hitters_summary filters the sentinel for
        # consumers). ALWAYS merge — even the first epoch: the
        # single-input merge re-evicts the raw summary to <= capacity
        # (+ sentinel), so the persisted state is sketch-sized from
        # birth (ADVICE r13)
        batch_summary = misra_gries_summary(
            batch, key_col, capacity=capacity, weight_col=weight_col,
            keep_total_row=True,
        )
        return merge_mg_summaries(
            [current, batch_summary] if current is not None
            else [batch_summary],
            key_col, capacity=capacity, keep_total_row=True,
        )

    _fold_summary_epoch(batch_df, epoch_id, summary_path, fold, stream_id)


def read_heavy_hitters_summary(spark, summary_path: str) -> DataFrame:
    """The persisted streaming summary (key, est_count,
    count_error_max) at its latest committed epoch. The stored NULL-key
    error-sentinel row (see heavy_hitters_step) is filtered out — it is
    merge plumbing, not a key. Lazy over the epoch dir: the grace
    window of _fold_summary_epoch applies."""
    df = _read_latest(spark, summary_path)[1]
    return df.filter(F.col(df.columns[0]).isNotNull())


def start_heavy_hitters_stream(
    stream_df: DataFrame,
    summary_path: str,
    checkpoint: str,
    key_col: str,
    capacity: int = 4096,
    weight_col: str | None = None,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Streaming front-end for the Misra-Gries heavy-hitter summary:
    each micro-batch folds into the persisted sketch (heavy_hitters_step).
    State stays <= capacity keys (+ error sentinel) per kept epoch dir
    regardless of stream volume; read the running top-k any time with
    read_heavy_hitters_summary."""
    step = partial(
        heavy_hitters_step, summary_path=summary_path, key_col=key_col,
        capacity=capacity, weight_col=weight_col,
        stream_id=_stream_id_of(checkpoint),
    )
    return _start(stream_df, checkpoint, step, trigger_once)


def weighted_sample_step(
    batch_df: DataFrame,
    epoch_id: int,
    sample_path: str,
    weight_col: str,
    n: int,
    id_col: str,
    salt: str = "s1",
    stream_id: str | None = None,
) -> None:
    """ONE idempotent foreachBatch epoch of a streaming weighted
    reservoir (r14): fold the batch's Efraimidis-Spirakis summary
    (operators/sampling.weighted_sample_summary) into the persisted
    n-row sample with merge_weighted_samples — the race keys are
    deterministic per (id, weight, salt), so min-n of the stored
    summary and the batch summary IS the draw over everything ingested
    since the sample was born; after any number of epochs the stored
    sample is bit-identical to one global weighted_sample_n pass over
    the concatenated stream (batch/stream parity pinned in
    tests/test_streaming_parity.py). State is <= n rows per kept epoch
    dir. Replay protocol: _fold_summary_epoch."""
    from meerkat_spark.operators.sampling import (
        merge_weighted_samples,
        weighted_sample_summary,
    )

    def fold(current, batch):
        batch_summary = weighted_sample_summary(
            batch, weight_col=weight_col, n=n, id_col=id_col, salt=salt
        )
        return merge_weighted_samples(
            [current, batch_summary] if current is not None
            else [batch_summary],
            n=n, id_col=id_col,
        )

    _fold_summary_epoch(batch_df, epoch_id, sample_path, fold, stream_id)


def read_weighted_sample(spark, sample_path: str) -> DataFrame:
    """The persisted streaming weighted sample at its latest committed
    epoch, with the internal `__es_key` race-key column dropped. Lazy
    over the epoch dir: the grace window of _fold_summary_epoch
    applies."""
    return _read_latest(spark, sample_path)[1].drop("__es_key")


def start_weighted_sample_stream(
    stream_df: DataFrame,
    sample_path: str,
    checkpoint: str,
    weight_col: str,
    n: int,
    id_col: str,
    salt: str = "s1",
    trigger_once: bool = True,
) -> StreamingQuery:
    """Streaming front-end for the weighted reservoir: each micro-batch
    folds into the persisted n-row sample (weighted_sample_step). Read
    the current draw any time with read_weighted_sample — it always
    equals the global weighted_sample_n over everything ingested so
    far."""
    step = partial(
        weighted_sample_step, sample_path=sample_path,
        weight_col=weight_col, n=n, id_col=id_col, salt=salt,
        stream_id=_stream_id_of(checkpoint),
    )
    return _start(stream_df, checkpoint, step, trigger_once)


def hll_distinct_step(
    batch_df: DataFrame,
    epoch_id: int,
    sketch_path: str,
    value_col: str,
    by: list[str] | None = None,
    lg_k: int = 12,
    stream_id: str | None = None,
) -> None:
    """ONE idempotent foreachBatch epoch of streaming distinct counts
    (r14): fold the batch's per-group Datasketches HLL sketches into
    the persisted sketch table via hll_union — HLL registers merge by
    max, so the folded sketch equals one batch hll_sketch_agg over
    everything ingested since the table was born (batch/stream parity
    pinned in tests/test_streaming_parity.py). State is one
    O(2^lg_k)-byte sketch row per observed group, independent of
    stream volume — the streaming twin of the dcount/hll aggregate
    family (functions/agg.py). Replay protocol: _fold_summary_epoch;
    read the running estimates with read_hll_distinct."""
    keys = list(by or [])

    def fold(current, batch):
        batch_sk = batch.groupBy(*keys).agg(
            F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias("__hll")
        )
        if current is None:
            return batch_sk
        # sketch-sized full-outer merge: one row per group on each
        # side, unioned registers where both sides saw the group
        both = current.unionByName(batch_sk)
        if keys:
            return both.groupBy(*keys).agg(
                F.hll_union_agg(F.col("__hll")).alias("__hll")
            )
        return both.agg(F.hll_union_agg(F.col("__hll")).alias("__hll"))

    _fold_summary_epoch(batch_df, epoch_id, sketch_path, fold, stream_id)


def read_hll_distinct(spark, sketch_path: str) -> DataFrame:
    """The persisted streaming distinct-count table at its latest
    committed epoch: the group columns plus `distinct_estimate` (the
    HLL estimate; the raw sketch column is internal). Lazy over the
    epoch dir: the grace window of _fold_summary_epoch applies."""
    df = _read_latest(spark, sketch_path)[1]
    return df.select(
        *[c for c in df.columns if c != "__hll"],
        F.hll_sketch_estimate(F.col("__hll")).alias("distinct_estimate"),
    )


def start_hll_distinct_stream(
    stream_df: DataFrame,
    sketch_path: str,
    checkpoint: str,
    value_col: str,
    by: list[str] | None = None,
    lg_k: int = 12,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Streaming front-end for per-group distinct counting: each
    micro-batch folds its HLL sketches into the persisted table
    (hll_distinct_step). The estimates always equal a batch hll/dcount
    aggregate over everything ingested so far — streaming adds replay
    machinery, not new semantics."""
    step = partial(
        hll_distinct_step, sketch_path=sketch_path, value_col=value_col,
        by=by, lg_k=lg_k, stream_id=_stream_id_of(checkpoint),
    )
    return _start(stream_df, checkpoint, step, trigger_once)


def tdigest_step(
    batch_df: DataFrame,
    epoch_id: int,
    digest_path: str,
    value_col: str,
    by: list[str],
    compression: float = 100.0,
    stream_id: str | None = None,
) -> None:
    """ONE idempotent foreachBatch epoch of streaming per-group
    percentiles (r14): build the batch's per-key t-digest table
    (functions/tdigest.tdigest_sketch — map-side combine, digest-sized
    shuffle) and fold it into the persisted table with
    merge_digest_tables — the t-digest merge is its build on
    concatenated centroid sets, so the k1 size bound and the pinned
    rank-error contract hold over EVERYTHING ingested since the table
    was born. Unlike the reservoir/HLL folds the merged digest is not
    bit-identical to a one-pass build (compression of compressed
    centroids takes a different centroid path), but estimates agree
    within the documented rank error — the batch/stream parity test
    pins both that tolerance and exact replay determinism. State is
    one O(compression) digest row per key per kept epoch dir; read
    with read_tdigest / functions.tdigest.digest_percentiles. Replay
    protocol: _fold_summary_epoch."""
    from meerkat_spark.functions.tdigest import (
        merge_digest_tables,
        tdigest_sketch,
    )

    def fold(current, batch):
        batch_sk = tdigest_sketch(
            batch, value_col, by=by, compression=compression
        )
        if current is None:
            return batch_sk
        return merge_digest_tables(
            current.unionByName(batch_sk), by=by, compression=compression
        )

    _fold_summary_epoch(batch_df, epoch_id, digest_path, fold, stream_id)


def read_tdigest(spark, digest_path: str) -> DataFrame:
    """The persisted streaming digest table (by…, digest) at its
    latest committed epoch — feed it to digest_percentiles /
    digest_percentrank. Lazy over the epoch dir: the grace window of
    _fold_summary_epoch applies."""
    return _read_latest(spark, digest_path)[1]


def start_tdigest_stream(
    stream_df: DataFrame,
    digest_path: str,
    checkpoint: str,
    value_col: str,
    by: list[str],
    compression: float = 100.0,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Streaming front-end for per-group running percentiles: each
    micro-batch's t-digests fold into the persisted table
    (tdigest_step) — the streaming twin of the stored-digest rollup
    (functions/tdigest.py)."""
    step = partial(
        tdigest_step, digest_path=digest_path, value_col=value_col,
        by=by, compression=compression,
        stream_id=_stream_id_of(checkpoint),
    )
    return _start(stream_df, checkpoint, step, trigger_once)
