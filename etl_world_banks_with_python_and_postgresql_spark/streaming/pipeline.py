"""Structured Streaming equivalents of the batch surface.

The reference is a periodic full-refresh batch job (SURVEY §2.6: streaming
absent) -- but its batch-id protocol (extract-all -> merge -> deactivate
missing) maps 1:1 onto ``foreachBatch``: each micro-batch is "one run", the
epoch id is the batch id, and the same set-based merge operator applies
unchanged. These wrappers make that concrete, plus the standard windowed /
session-windowed event aggregations with watermarks for late data.

All entry points take ``readStream`` DataFrames; tests drive them with the
file source over TESTDATA parquet + the memory sink, which is
deterministic and synchronous (processAllAvailable).
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.merge import deactivate_stale, merge_scd

log = logging.getLogger(__name__)


def windowed_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide``, hopping) window counts/sums with a
    watermark for late data.

    Append-mode compatible: a window closes once the watermark passes its
    end, bounding state size -- the knob that matters at 100 TB/day rates.
    A hopping window multiplies state by window/slide (each event lives in
    that many open windows); batch twin: z04_sliding_window.
    """
    win = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "total_value")
    )


def session_event_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Gap-based sessions via the native session_window (streaming twin of
    operators/sessionize.py)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def streaming_dedup(
    stream: DataFrame,
    keys: list[str],
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Exactly-once-per-key stream deduplication with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps key state only until the
    watermark passes -- without it, dedup state grows forever at ingest
    scale. Batch twin: ``exact_duplicates`` in operators/dedup.py.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def event_time_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str = "ts",
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
    left_watermark: str | None = None,
    right_watermark: str | None = None,
) -> DataFrame:
    """Stream-stream join on ``key`` where the right event precedes the left
    within ``max_delay`` (e.g. purchase <- click attribution).

    Both sides carry watermarks and the join condition carries the time
    interval -- the two things Spark needs to bound join state: a right row
    is droppable once the watermark passes its ts + max_delay, so state is
    O(rate x delay) instead of unbounded. Batch twin: operators/asof.py
    (as-of join keeps only the latest match; this keeps all within-window
    matches, which is the stream-safe superset).

    ``left_watermark`` / ``right_watermark`` override ``watermark`` per
    side: the usual asymmetric case is a low-latency event stream joined
    to a laggy enrichment feed (left minutes, right hours). Spark tracks
    one global watermark as the MIN across inputs
    (spark.sql.streaming.multipleWatermarkPolicy=min by default), so
    output latency follows the laggier side while each side's state is
    still bounded by its own delay + max_delay.

    Output columns: key, l_ts, r_ts, plus all non-key/ts columns of each
    side prefixed ``l_`` / ``r_``.
    """
    lcols = [c for c in left.columns if c not in (key, ts_col)]
    rcols = [c for c in right.columns if c not in (key, ts_col)]
    l = left.withWatermark(ts_col, left_watermark or watermark).select(
        F.col(key),
        F.col(ts_col).alias("l_ts"),
        *[F.col(c).alias(f"l_{c}") for c in lcols],
    )
    r = right.withWatermark(ts_col, right_watermark or watermark).select(
        F.col(key).alias("_r_key"),
        F.col(ts_col).alias("r_ts"),
        *[F.col(c).alias(f"r_{c}") for c in rcols],
    )
    cond = (
        (F.col(key) == F.col("_r_key"))
        & (F.col("r_ts") <= F.col("l_ts"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {max_delay}"))
    )
    # the visible key must survive right-only rows in full-outer output
    # (the left-side key is NULL there); coalesce is a no-op otherwise
    return (
        l.join(r, cond, how)
        .withColumn(key, F.coalesce(F.col(key), F.col("_r_key")))
        .drop("_r_key")
    )


def streaming_merge_sink(
    read_target: Callable[[], DataFrame],
    write_target: Callable[[DataFrame], None],
    keys: list[str],
    compare_col: str,
    set_cols: list[str],
    table_name: str,
    id_col: str,
    scd: bool = True,
    deactivate_missing: bool = False,
    now: datetime | None = None,
):
    """foreachBatch body: apply each micro-batch through the SCD merge.

    Exactly-once-per-epoch: the epoch id becomes the lineage batch_id, so a
    replayed epoch re-derives the same batch_id and the merge is a no-op on
    the second application (B5 idempotency property). Returns a function
    suitable for ``stream.writeStream.foreachBatch(...)``.
    """

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_id = f"epoch-{epoch_id}"
        target = read_target()
        res = merge_scd(
            target,
            batch_df,
            keys=keys,
            compare_col=compare_col,
            set_cols=set_cols,
            batch_id=batch_id,
            table_name=table_name,
            id_col=id_col,
            now=now,
            scd=scd,
        )
        out = res.target
        if deactivate_missing:
            out = deactivate_stale(out, batch_id, now=now)
        write_target(out)

    return apply_batch


def streaming_incremental_sink(
    table,
    schema,
    keys: list[str],
    compare_col: str,
    set_cols: list[str],
    table_name: str,
    scd: bool = True,
    deactivate: bool = False,
    now: datetime | None = None,
):
    """foreachBatch body writing through an ``IncrementalTable``.

    The continuous-ingestion shape: ``streaming_merge_sink`` rewrites the
    full snapshot every epoch (O(|target|) write amplification -- fine for
    reference-sized tables, fatal for a hot 100 TB table on a minutes-long
    trigger), while this sink pays O(|micro-batch|) per epoch plus the
    amortized compaction the table already schedules. Epoch id -> lineage
    batch_id keeps the B5 idempotency property: a replayed epoch
    reclassifies every row as noop, so the re-written delta is empty and
    the state is unchanged.

    ``table`` is a ``sources.incremental.IncrementalTable``; ``schema`` the
    target row schema. Returns a function for ``writeStream.foreachBatch``.
    """

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.merge_batch(
            batch_df.sparkSession,
            schema,
            batch_df,
            keys=keys,
            compare_col=compare_col,
            set_cols=set_cols,
            batch_id=f"epoch-{epoch_id}",
            table_name=table_name,
            now=now,
            scd=scd,
            deactivate=deactivate,
        )

    return apply_batch


def _novelty_sink(screen, probe, append):
    """The novelty-sink skeleton, one ``foreachBatch`` body: skip an
    empty batch, ``screen(batch)`` it for within-batch duplicates,
    ``probe(spark, uniq)`` the survivors against what is already
    ingested, ``append(novel)`` the remainder. Within-batch duplicates
    resolve by keeping the lowest id (deterministic), and replayed epochs
    are absorbed by CONTENT -- a replayed row finds its own earlier copy
    -- so no epoch ledger is needed."""

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append(probe(batch_df.sparkSession, screen(batch_df)))

    return apply_batch


def _keep_lowest(batch_df: DataFrame, pairs: DataFrame, a: str, b: str, id_col: str):
    """``batch_df`` minus the higher id of every near-dup pair (a, b)."""
    dup_ids = (
        pairs.filter(F.col(a) < F.col(b)).select(F.col(b).alias(id_col)).distinct()
    )
    return batch_df.join(dup_ids, id_col, "left_anti")


def streaming_novelty_sink(corpus_path: str, text_col: str = "text"):
    """foreachBatch body for continuous corpus ingestion with exact dedup:
    each micro-batch keeps only documents whose content is NOT already in
    the corpus at ``corpus_path`` (content-md5 anti-join,
    ``dedup.novel_documents``), dedups within the batch itself, and
    appends the novel remainder.

    The standard crawl-ingestion shape: the corpus only ever grows by
    novel content, and per-epoch cost is O(|batch|) probe work against
    the corpus -- bucket the corpus by the content hash to keep the
    probe exchange-free on the corpus side at scale. Returns a function
    for ``writeStream.foreachBatch``.
    """
    import os

    from ..operators.dedup import novel_documents

    def screen(batch_df):
        w_batch = W.partitionBy(F.md5(F.col(text_col))).orderBy("doc_id")
        return (
            batch_df.withColumn("_rn", F.row_number().over(w_batch))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def probe(spark, uniq):
        if not os.path.exists(corpus_path):
            return uniq
        corpus = spark.read.parquet(corpus_path)
        return novel_documents(uniq, corpus, text_col=text_col)

    return _novelty_sink(
        screen, probe, lambda novel: novel.write.mode("append").parquet(corpus_path)
    )


def streaming_semantic_novelty_sink(
    index_path: str,
    threshold: float = 0.9,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch body for continuous EMBEDDING ingestion with semantic
    dedup against a :func:`operators.similarity.write_ivf_index` index:
    each micro-batch keeps only vectors whose nearest indexed neighbor has
    cosine < ``threshold`` (checked over the ``n_probe`` nearest cells --
    the IVF probe, so only those cell partitions are read), then appends
    the novel remainder to the index via ``append_ivf_index``.

    The SemDeDup counterpart of ``streaming_novelty_sink``: per-epoch
    cost is O(|batch| x probed-cells) -- never a scan of the full index.
    A replayed vector finds its own earlier copy at cosine ~1 and is
    dropped. Requires the index to exist (seed it with
    ``write_ivf_index`` on the first corpus slice).
    """
    from ..operators.similarity import (
        _ivf_novel_indexed,
        append_ivf_index,
        cosine_neardup_pairs,
    )

    def screen(batch_df):
        pairs = cosine_neardup_pairs(
            batch_df, threshold=threshold, id_col=id_col, vec_col=vec_col,
            dim=None,
        )
        return _keep_lowest(batch_df, pairs, "vec_a", "vec_b", id_col)

    return _novelty_sink(
        screen,
        lambda spark, uniq: _ivf_novel_indexed(
            spark, uniq, index_path, threshold, n_probe, id_col, vec_col
        ),
        lambda novel: append_ivf_index(
            novel, index_path, id_col=id_col, vec_col=vec_col
        ),
    )


def streaming_minhash_novelty_sink(
    index_path: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """foreachBatch body for continuous DOCUMENT ingestion with lexical
    near-dup screening against a
    :func:`operators.dedup.write_minhash_index` index: each micro-batch
    keeps only docs with no indexed document at true Jaccard >=
    ``threshold`` (candidates from the partition-pruned band buckets,
    exact-Jaccard verify), then appends the novel remainder via
    ``append_minhash_index`` -- O(|batch| x bands) per epoch, never an
    index scan.

    ONE similarity definition for both screening stages (ADVICE r9):
    within-batch screening uses the INDEX's shingle size and banding,
    not minhash_lsh_pairs defaults. A replayed doc finds its own earlier
    copy at Jaccard 1 (empty-shingle docs match each other too -- the
    verify predicate treats 0/0 as satisfied); only the n_docs
    observability stat can double-count on replay. Seed the index with
    ``write_minhash_index`` on the first corpus slice.
    """
    from ..operators.dedup import (
        _minhash_index,
        append_minhash_index,
        minhash_lsh_pairs,
        minhash_novel_indexed,
    )

    def screen(batch_df):
        stats, _ = _minhash_index(index_path).load()
        pairs = minhash_lsh_pairs(
            batch_df, threshold=threshold,
            n=stats["n"], k=stats["k"], band_size=stats["band_size"],
            text_col=text_col, id_col=id_col,
        )
        return _keep_lowest(batch_df, pairs, "doc_a", "doc_b", id_col)

    return _novelty_sink(
        screen,
        lambda spark, uniq: minhash_novel_indexed(
            spark, uniq, index_path,
            threshold=threshold, text_col=text_col, id_col=id_col,
        ),
        lambda novel: append_minhash_index(
            novel, index_path, text_col=text_col, id_col=id_col
        ),
    )


def streaming_posting_index_sink(
    index_path: str, text_col: str = "text", id_col: str = "doc_id"
):
    """foreachBatch body that keeps a :func:`operators.text.write_posting_index`
    layout current as documents stream in: each micro-batch's postings
    append O(|batch|) into the term buckets (``append_posting_index``),
    so ranked retrieval over the index always reflects everything
    ingested -- without ever rebuilding.

    Exactly-once protocol (append_posting_index double-counts on naive
    replay, unlike the content-keyed novelty sinks, so epochs are
    ledgered): ``_indexed_epochs.json`` records committed epoch ids plus
    an in-flight marker. A replay of a COMMITTED epoch is a no-op (the
    driver-restart case). An in-flight marker found at entry means a
    previous append tore mid-write (files visible, stats not advanced):
    the sink raises and names the fix -- rebuild with
    ``write_posting_index`` -- instead of silently double-counting.
    Commit point is the single atomic ledger rename, after the data
    append and the stats advance.
    """
    import os

    from ..committer import commit_json, load_json
    from ..operators.text import append_posting_index

    ledger_path = os.path.join(index_path, "_indexed_epochs.json")

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ledger, tok = load_json(ledger_path)
        if ledger is None:
            ledger = {"committed": [], "in_flight": None}
        if epoch_id in ledger["committed"]:
            return  # clean replay: absorbed
        if ledger["in_flight"] is not None:
            raise RuntimeError(
                f"posting index at {index_path} has a torn append for "
                f"epoch {ledger['in_flight']} (files written, stats not "
                "committed); rebuild with write_posting_index before "
                "resuming the stream"
            )
        # both ledger transitions are CAS-guarded by the load token: a
        # second stream racing this index fails loudly instead of
        # interleaving in_flight markers (committer module docstring)
        tok = commit_json(
            ledger_path,
            {"committed": ledger["committed"], "in_flight": epoch_id},
            expect=tok,
        )
        append_posting_index(
            batch_df, index_path, text_col=text_col, id_col=id_col
        )
        commit_json(
            ledger_path,
            {"committed": ledger["committed"] + [epoch_id], "in_flight": None},
            expect=tok,
        )

    return apply_batch


def _differs(a: DataFrame, b: DataFrame) -> bool:
    """Multiset inequality of two same-schema frames (symmetric
    exceptAll, short-circuited to one surviving row per direction)."""
    cols = sorted(a.columns)
    a, b = a.select(*cols), b.select(*cols)
    return bool(
        a.exceptAll(b).limit(1).count() or b.exceptAll(a).limit(1).count()
    )


def _verify_replayed_epoch(view, batch_df: DataFrame, side, bid: str) -> None:
    """Distinguish a GENUINE foreachBatch replay (driver restart
    re-delivers the same epoch: same rows) from a BATCH-ID COLLISION
    (two streams feeding one view without distinct ``name``s both count
    epochs 0,1,...: different rows under the same id -- VERDICT r6/r7:
    previously only a docstring warning, now a loud failure).

    Zero cost on the apply path: runs only when the ledger reports
    "replayed", and compares the incoming batch against what the
    ledgered batch ACTUALLY wrote (already on disk). A tombstoned id
    (compacted away, content no longer addressable) is unverifiable and
    logged as such.
    """
    spark = batch_df.sparkSession
    # duck-typed: the agg-shaped views (CdcAggView, KmvAggView) expose
    # _partial + a single-arg _batch_dir; join views store per side
    if hasattr(view, "_partial"):
        d = view._batch_dir(bid)
        import os

        if not os.path.isdir(d):
            log.warning(
                "epoch %s replay of a compacted-away batch: content "
                "unverifiable, trusting the tombstone", bid,
            )
            return
        stored = spark.read.parquet(d)
        incoming = view._partial(batch_df)
    else:
        store_dir = view._batch_dir("store", side, bid)
        stored = view._read_dirs(spark, view._leaf_dirs(store_dir))
        if stored is None:
            log.warning(
                "epoch %s (%s) replay of a compacted-away batch: content "
                "unverifiable, trusting the tombstone", bid, side,
            )
            return
        incoming = batch_df
        stored = stored.select(*incoming.columns)
    if _differs(stored, incoming):
        raise RuntimeError(
            f"batch id collision on view at {view.path}: epoch {bid} is "
            "ledgered with DIFFERENT content than this micro-batch. Two "
            "streams are feeding this view without distinct names -- "
            "their per-query epoch counters collide and later epochs "
            "would be silently dropped. Give each stream its own "
            "name= in streaming_join_view_sink/streaming_agg_view_sink."
        )


def streaming_join_view_sink(
    view,
    side: str = "left",
    name: str | None = None,
    compact_every: int | None = None,
):
    """foreachBatch body maintaining an ``operators.ivm.IncrementalJoinView``.

    Each micro-batch is one IVM delta: the epoch's rows join the OTHER
    side's store (bucket/range-pruned -- operators/ivm.py docstring) and
    append to the view -- the streaming materialized-join shape, with
    the same once-per-pair contract as the batch operator (a pair is
    emitted by whichever side's epoch arrives later).

    Exactly-once under foreachBatch's at-least-once replay (ADVICE r5):
    the EPOCH id is the view's batch id, so a crash between the view's
    ledger commit and the stream's checkpoint commit replays the epoch
    into ``IncrementalJoinView``'s ``[side, bid] in applied`` ledger
    check and becomes a no-op -- no duplicated pairs (pinned by
    tests/test_streaming.py::test_streaming_join_view_epoch_replay_is_noop).

    ``name`` namespaces the batch ids: epoch counters are PER-QUERY, so
    two different streams feeding the SAME side of one view would both
    produce ``epoch-0, epoch-1, ...``. Such a collision FAILS LOUDLY: a
    "replayed" epoch whose content differs from what the ledgered batch
    wrote raises (``_verify_replayed_epoch``) instead of being dropped
    as a replay. Any fan-in of multiple streams must give each its own
    name (one stream per side needs none -- the ledger already
    separates sides).

    ``compact_every=N`` bounds merge-on-read for long-running streams:
    after each APPLIED epoch the sink runs ``view.maybe_compact(spark,
    max_applied=N)``, folding the ledgered history whenever it exceeds
    N entries -- amortized O(1) maintenance with no external tick.
    Compaction truncates ``read(as_of=...)`` history; leave it None if
    the stream's consumers time-travel.
    """

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bid = f"{name}-epoch-{epoch_id}" if name else f"epoch-{epoch_id}"
        if side == "left":
            status = view.ingest_left(batch_df, batch_id=bid)
        else:
            status = view.ingest_right(batch_df, batch_id=bid)
        if status == "replayed":
            _verify_replayed_epoch(view, batch_df, side, bid)
            log.warning(
                "[join-view-sink] epoch %s (%s) replayed: already "
                "ledgered with matching content, no-op", bid, side,
            )
        elif compact_every is not None:
            view.maybe_compact(batch_df.sparkSession, max_applied=compact_every)

    return apply_batch


def streaming_agg_view_sink(
    view, name: str | None = None, compact_every: int | None = None
):
    """foreachBatch body maintaining an ``operators.ivm.CdcAggView`` --
    or any view with the same ``ingest(batch, batch_id=...)`` +
    ``_partial``/``_batch_dir`` surface, e.g. the insert-only
    ``KmvAggView`` (streamed batches then carry plain rows, not signed
    deltas).

    Each micro-batch of SIGNED change rows (``ivm.signed`` / a CDF
    stream's +1/-1 decomposition) becomes one O(|delta|) partial
    aggregate -- the streaming maintained-counters shape, with no reads
    of prior state per epoch (contrast the join sink, which must probe
    the other side's store).

    Exactly-once under foreachBatch's at-least-once replay by the same
    epoch-as-batch-id discipline as ``streaming_join_view_sink``: a
    replayed epoch hits ``CdcAggView``'s applied/seen ledger check and
    is a no-op, so counters are never double-applied (pinned by
    tests/test_streaming.py::test_cdf_stream_maintains_agg_view).

    The agg view has a SINGLE ledger side, so fanning several streams
    into one view REQUIRES a distinct ``name`` per stream -- without it
    their per-query epoch counters collide. Collisions FAIL LOUDLY: a
    "replayed" epoch whose recomputed partial differs from the ledgered
    partial raises (``_verify_replayed_epoch``) instead of being
    dropped as a replay.

    ``compact_every=N``: same push-button bounding as
    ``streaming_join_view_sink`` -- fold the partial history via
    ``maybe_compact`` after each applied epoch once it exceeds N
    entries (truncates ``read(as_of=...)`` history).
    """

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bid = f"{name}-epoch-{epoch_id}" if name else f"epoch-{epoch_id}"
        status = view.ingest(batch_df, batch_id=bid)
        if status == "replayed":
            _verify_replayed_epoch(view, batch_df, None, bid)
            log.warning(
                "[agg-view-sink] epoch %s replayed: already ledgered "
                "with matching content, no-op", bid,
            )
        elif compact_every is not None:
            view.maybe_compact(batch_df.sparkSession, max_applied=compact_every)

    return apply_batch


def streaming_winnow_novelty_sink(
    index_path: str,
    min_shared: int = 2,
    max_df: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """foreachBatch body for continuous document ingestion with
    WINNOWING-fingerprint near-dup screening against a
    :func:`operators.dedup.write_winnow_index` layout -- the locality-
    preserving member of the novelty-sink family. In-batch dedup uses
    the index's fingerprint definition (k/window from its sidecar, the
    ADVICE-r9 one-similarity rule); the pruned index probe keeps docs
    sharing < ``min_shared`` fingerprints with every indexed doc.

    Replays are absorbed, except docs too short to carry ``min_shared``
    fingerprints, which re-append as dead-storage duplicates
    (probe-safe: the probe counts DISTINCT fingerprints and doc ids);
    ``compact_winnow_index`` removes them. Seed with
    ``write_winnow_index`` on the first corpus slice.
    """
    from ..operators.dedup import (
        _winnow_index,
        append_winnow_index,
        winnow_novel_indexed,
        winnow_pairs,
    )

    def screen(batch_df):
        stats, _ = _winnow_index(index_path).load()
        pairs = winnow_pairs(
            batch_df, k=stats["k"], window=stats["window"],
            max_df=max_df, min_shared=min_shared,
            text_col=text_col, id_col=id_col,
        )
        return _keep_lowest(batch_df, pairs, "doc_a", "doc_b", id_col)

    return _novelty_sink(
        screen,
        lambda spark, uniq: winnow_novel_indexed(
            spark, uniq, index_path,
            min_shared=min_shared, max_df=max_df,
            text_col=text_col, id_col=id_col,
        ),
        lambda novel: append_winnow_index(
            novel, index_path, text_col=text_col, id_col=id_col
        ),
    )


def streaming_drift_monitor_sink(
    history_path: str,
    monitor_path: str,
    group_col: str,
    bucket_col: str,
):
    """foreachBatch body for a LIVE distribution-drift monitor: each
    micro-batch's per-group histogram over ``bucket_col`` is compared --
    as EXACT total-variation distance in HALF_UP micros, the z171
    statistic -- against the accumulated history of all PRIOR epochs,
    then appended to that history. The pipeline-observability loop a
    training-data ingest runs continuously: a source whose batch TVD
    jumps is a scrape loop, a template flood, or an upstream schema
    shift, caught while the batch is still quarantinable.

    Replay discipline: both the history contribution and the monitor
    rows for epoch N live under ``.../epoch=N`` and are written with
    per-epoch OVERWRITE, so a replayed epoch rewrites its own partition
    byte-for-byte instead of double-counting -- idempotent without a
    ledger, because each epoch's output is a pure function of that
    epoch's input. Per-epoch cost: one histogram aggregate over the
    batch + one aggregate over the (histogram-sized, partition-pruned)
    history -- never corpus-sized.

    EVERY group seen in the batch or the accumulated history gets a
    monitor row each epoch (ADVICE r12 -- the two extreme drift events
    must not pass silently): a group present on both sides gets the
    exact TVD; a group present only in the batch (new source -- the
    first epoch is all-new by definition) gets ``history_rows`` NULL;
    a group present only in the history (source went dark) gets
    ``batch_rows`` NULL. Sentinel rows carry ``tvd_micros`` NULL --
    there is no distribution to compare -- so downstream alerting
    treats NULL as "investigate", not "no drift". An entirely-empty
    micro-batch is invisible to foreachBatch sinks by contract (Spark
    may not even fire it); dark-SOURCE detection therefore needs a
    wall-clock watchdog, dark-GROUP detection is handled here.
    """
    import os

    from pyspark.sql import functions as F

    from ..functions.exactnum import ratio_micros_halfup

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        hist = batch_df.groupBy(
            F.col(group_col).alias("g"), F.col(bucket_col).alias("b")
        ).agg(F.count(F.lit(1)).cast("long").alias("n"))
        bt = hist.groupBy("g").agg(F.sum("n").alias("bn"))
        prior = None
        if os.path.exists(history_path):
            prior = (
                spark.read.option("basePath", history_path)
                .parquet(history_path)
                .filter(F.col("epoch") < epoch_id)
                .groupBy("g", "b")
                .agg(F.sum("n").cast("long").alias("h"))
            )
            if prior.isEmpty():
                prior = None
        if prior is not None:
            ht = prior.groupBy("g").agg(F.sum("h").alias("hn"))
            totals = bt.join(ht, "g", "full_outer")
            # groups with mass on BOTH sides: exact TVD (the z171
            # statistic); one-sided groups become sentinel rows below
            both = totals.filter(
                F.col("bn").isNotNull() & F.col("hn").isNotNull()
            )
            # full bucket grid per group so one-sided buckets still
            # contribute their mass (the z171 rule)
            grid = (
                hist.select("g", "b")
                .unionByName(prior.select("g", "b"))
                .distinct()
            )
            j = (
                grid.join(hist, ["g", "b"], "left")
                .join(prior, ["g", "b"], "left")
                .fillna({"n": 0, "h": 0})
                .join(both, "g")
            )
            dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
            s = j.groupBy("g", "bn", "hn").agg(
                F.sum(
                    F.abs(dec("n") * dec("hn") - dec("h") * dec("bn"))
                ).alias("num")
            )
            scored = s.select(
                F.col("g"),
                F.col("bn").cast("long").alias("batch_rows"),
                F.col("hn").cast("long").alias("history_rows"),
                ratio_micros_halfup(
                    F.col("num"),
                    F.lit(2).cast("decimal(38,0)") * dec("bn") * dec("hn"),
                ).alias("tvd_micros"),
            )
            sentinels = totals.filter(
                F.col("bn").isNull() | F.col("hn").isNull()
            ).select(
                F.col("g"),
                F.col("bn").cast("long").alias("batch_rows"),
                F.col("hn").cast("long").alias("history_rows"),
                F.lit(None).cast("long").alias("tvd_micros"),
            )
            monitor = scored.unionByName(sentinels)
        else:
            # first epoch: every batch group is a new source (sentinel)
            monitor = bt.select(
                F.col("g"),
                F.col("bn").cast("long").alias("batch_rows"),
                F.lit(None).cast("long").alias("history_rows"),
                F.lit(None).cast("long").alias("tvd_micros"),
            )
        monitor.select(
            F.lit(epoch_id).cast("long").alias("epoch_id"),
            F.col("g").alias(group_col),
            "batch_rows",
            "history_rows",
            "tvd_micros",
        ).write.mode("overwrite").parquet(
            os.path.join(monitor_path, f"epoch={epoch_id}")
        )
        hist.write.mode("overwrite").parquet(
            os.path.join(history_path, f"epoch={epoch_id}")
        )

    return apply_batch
