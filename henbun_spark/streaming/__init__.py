"""Structured Streaming surface.

The reference's closest construct is minibatch stochastic training over an
unbounded dataset (`/root/reference/Henbun/model.py:126-153,255-269`) —
here that becomes `foreachBatch` training (each micro-batch is a
minibatch). Around it, the standard streaming operator set: watermarked
windowed aggregation, streaming sessionization via
`applyInPandasWithState`, and file/rate sources.

All queries are testable with `trigger(availableNow=True)` against file
sources — the same plans run against Kafka/real streams unchanged.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def read_stream_parquet(spark, path: str, schema) -> DataFrame:
    """File-source stream (one file per micro-batch by default)."""
    return spark.readStream.schema(schema).parquet(path)


_STATE_POINTER = "_CURRENT"


def _state_meta(state_dir: str):
    import json
    import os

    cur = os.path.join(state_dir, _STATE_POINTER)
    if not os.path.exists(cur):
        return None
    with open(cur) as f:
        return json.load(f)


def load_state(spark, state_dir: str) -> DataFrame:
    """Read the last committed snapshot of a versioned state dir."""
    import os

    meta = _state_meta(state_dir)
    if meta is None:
        raise FileNotFoundError(f"no committed state under {state_dir}")
    return spark.read.parquet(os.path.join(state_dir, meta["version"]))


def load_partitioned_state(spark, state_dir: str) -> DataFrame:
    """Read a hive-partitioned MV state, dropping the per-partition
    ``__last_batch`` replay stamp (`mv_stream_maintenance_partitioned`)."""
    return spark.read.parquet(state_dir).drop("__last_batch")


def _read_state(spark, state_dir: str):
    """(snapshot DataFrame | None, committed batch_id | -1)."""
    import os

    meta = _state_meta(state_dir)
    if meta is None:
        return None, -1
    df = spark.read.parquet(os.path.join(state_dir, meta["version"]))
    return df, int(meta["batch_id"])


def _write_json_atomic(path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path``: a fsync'd ``.tmp`` file, then
    ``os.replace`` (atomic on POSIX), so readers see the old file or the
    new one, never a torn write."""
    import json
    import os

    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _commit_state(df: DataFrame, state_dir: str, batch_id: int) -> None:
    """Write ``df`` as snapshot v<batch_id> and atomically flip _CURRENT.

    The write never touches the previous snapshot (so ``df`` may lazily
    read from it — no driver collect needed to break lineage), the
    pointer flip is the commit point, and old snapshots are GC'd last.
    """
    import os
    import shutil

    vname = f"v{batch_id:020d}"
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(state_dir, vname)
    )
    _write_json_atomic(
        os.path.join(state_dir, _STATE_POINTER),
        {"version": vname, "batch_id": int(batch_id)},
    )
    for name in os.listdir(state_dir):
        if name.startswith("v") and name != vname:
            shutil.rmtree(os.path.join(state_dir, name), ignore_errors=True)


def _should_skip_batch(batch_id: int, committed: int, state_dir: str) -> bool:
    """foreachBatch can only legitimately replay the MOST RECENT batch
    (crash between state commit and checkpoint commit), i.e. batch_id ==
    committed. A batch_id BELOW the committed id means the state dir is
    being driven by a different (reset/recreated) checkpoint whose ids
    restarted at 0 — silently skipping would drop all new data, so fail
    loudly: pair each state dir with exactly one checkpoint dir, or
    start both fresh."""
    if committed < 0:
        return False  # fresh state dir: nothing committed yet
    if batch_id == committed:
        return True  # at-least-once replay of the already-folded batch
    if batch_id < committed:
        raise ValueError(
            f"state dir {state_dir} has committed batch {committed} but "
            f"received batch {batch_id}: the streaming checkpoint was "
            "reset or replaced. Reuse the matching checkpoint dir, or "
            "start from a fresh state dir."
        )
    return False


def _versioned_fold(state_dir: str, fold):
    """The foreachBatch function of a snapshot-state maintenance sink:
    ``fold(prev, batch_df)`` gets the committed snapshot (None before
    the first commit) and the micro-batch, and returns the new state
    DataFrame, or None to commit nothing. The one commit path of every
    ``*_stream_maintenance`` sink except the hive-partitioned MV.

    foreachBatch is at-least-once: a crash between the state write and
    the streaming checkpoint commit replays the batch on restart. A sink
    that folds each batch into persistent state unconditionally would
    double-count the replayed batch (and an rmtree+rename snapshot swap
    has a crash window with NO readable state at all). This function
    gives every sink exactly-once state folding:

      * each commit writes a fresh snapshot dir ``v<batch_id>`` under
        the state dir — never overwriting the snapshot it was derived
        from (`_commit_state`);
      * a ``_CURRENT`` pointer file (JSON: version + batch_id) is
        flipped with ``os.replace`` — atomic on POSIX — as the single
        commit point;
      * on entry, a batch with ``batch_id == committed batch_id`` is the
        legitimate crash-replay and is skipped (idempotent upsert); a
        batch id BELOW the committed id can only come from a reset/
        recreated checkpoint whose ids restarted — silently skipping
        would drop all new data, so that raises instead
        (`_should_skip_batch`);
      * superseded snapshot dirs are garbage-collected after the flip.

    A state dir is therefore always readable (old or new snapshot, never
    a half-written one) and pairs with ONE checkpoint dir.
    """

    def fold_batch(bdf: DataFrame, batch_id: int):
        prev, committed = _read_state(bdf.sparkSession, state_dir)
        if _should_skip_batch(batch_id, committed, state_dir):
            return
        new = fold(prev, bdf)
        if new is not None:
            _commit_state(new, state_dir, batch_id)

    return fold_batch


def _start_foreach_batch(stream: DataFrame, fn, checkpoint_dir: str):
    """Start ``fn`` as ``stream``'s foreachBatch sink, drained with
    availableNow; returns the StreamingQuery."""
    return (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked (sliding) window aggregation: counts + value stats per
    (window, key). Late rows beyond the watermark are dropped; state is
    bounded by watermark horizon x keys."""
    win = (
        F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("window"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
            F.avg("value").alias("avg_value"),
        )
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower: str = "interval 0 seconds",
    upper: str = "interval 10 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: left row matches right rows
    with the same key whose timestamp falls in
    [left_ts - upper... actually right_ts in [left_ts - upper, left_ts - lower]]
    — i.e. right events that happened up to `upper` BEFORE the left event.
    Both sides carry watermarks and the join condition bounds event-time
    distance, so each side's buffered state is bounded by
    watermark + interval width — the only way a stream-stream join is
    feasible at scale (an unbounded-time join would buffer everything).

    ``how="leftOuter"`` additionally emits each unmatched left row (null
    right columns) once the watermark passes left_ts + upper — the
    point where no future right row can still match it. Outer results
    are therefore watermark-delayed by construction; a drain needs the
    watermark pushed past the data (sentinel rows) for the final
    no-data micro-batch to flush them.
    """
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col(f"r.{right_ts}") >= F.expr(f"l.{left_ts} - {upper}"))
        & (F.col(f"r.{right_ts}") <= F.expr(f"l.{left_ts} - {lower}"))
    )
    return lw.join(rw, cond, how)


def dedup_stream(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication: keep the first row per key within
    the watermark horizon (`dropDuplicatesWithinWatermark`). State is one
    entry per distinct key seen inside the horizon — bounded, unlike an
    unwatermarked dropDuplicates which grows forever. This is the
    streaming twin of `operators.dedup.exact_dedup` for continuous
    ingestion pipelines."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


_SESSION_SCHEMA = "user_id long, session_start timestamp, session_end timestamp, n_events int, total_value double"
_STATE_SCHEMA = "start long, end long, n int, total double"


def sessionize_stream(
    stream: DataFrame,
    gap_minutes: float = 30.0,
    ts_col: str = "ts",
    user_col: str = "user_id",
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful operator: gap-based sessions with
    ``applyInPandasWithState`` — state = the open session per user; a
    session closes (emits) when the event-time watermark passes
    session_end + gap. This is the engine's example of operator category
    (b): semantics Spark's built-ins can't express (emit-on-close
    sessions with per-session aggregates).

    EventTimeTimeout (not processing-time): timeouts advance with the
    data's watermark, so a drain (``availableNow``) flushes closed
    sessions immediately instead of waiting out wall-clock gaps — and at
    scale, state size is bounded by the watermark horizon, not by
    real-time traffic lulls."""
    gap_us = int(gap_minutes * 60 * 1_000_000)  # state keeps µs: full ts fidelity
    stream = stream.withWatermark(ts_col, watermark)

    def fn(key, pdfs, state: GroupState):
        user = key[0]
        if state.hasTimedOut:
            start, end, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user],
                    "session_start": [pd.Timestamp(start, unit="us")],
                    "session_end": [pd.Timestamp(end, unit="us")],
                    "n_events": [n],
                    "total_value": [total],
                }
            )
            return
        rows = pd.concat(list(pdfs))
        ts = (rows[ts_col].astype("int64") // 1_000).to_numpy()  # µs
        vals = rows["value"].to_numpy(dtype=float)
        order = np.argsort(ts)
        ts, vals = ts[order], vals[order]
        if state.exists:
            start, end, n, total = state.get
        else:
            start, end, n, total = int(ts[0]), int(ts[0]), 0, 0.0
        out = []
        for t, v in zip(ts, vals):
            # diff >= gap closes the session — the same boundary rule as
            # Spark's native F.session_window, so batch and stateful
            # sessionization agree event-for-event (oracle-checked by the
            # streaming_sessionize contract query).
            if n > 0 and t - end >= gap_us:
                out.append((user, start, end, n, total))
                start, n, total = int(t), 0, 0.0
            end = int(t)
            n += 1
            total += float(v)
        state.update((int(start), int(end), int(n), float(total)))
        state.setTimeoutTimestamp((int(end) + gap_us) // 1_000)  # API takes ms
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [o[0] for o in out],
                    "session_start": [pd.Timestamp(o[1], unit="us") for o in out],
                    "session_end": [pd.Timestamp(o[2], unit="us") for o in out],
                    "n_events": [o[3] for o in out],
                    "total_value": [o[4] for o in out],
                }
            )

    return stream.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=_SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


class StreamingTrainer:
    """foreachBatch minibatch training: every micro-batch is one (or more)
    SGD steps — the streaming incarnation of MinibatchData
    (`param.py:716-739`). The model/optimizer state lives on the driver
    across batches, exactly like the reference's training loop."""

    def __init__(self, trainer, steps_per_batch: int = 1):
        from henbun_spark.spark_exec import SparkTrainer

        assert isinstance(trainer, SparkTrainer)
        self.trainer = trainer
        self.steps_per_batch = steps_per_batch
        self.batches_seen = 0

    def foreach_batch(self, batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        self.batches_seen += 1
        saved_df = self.trainer.df
        self.trainer.df = batch_df
        try:
            # fit() == the former step() loop, plus the driver-local
            # replay: a micro-batch under LOCAL_ROWS_CAP and the byte
            # budget (each of its P partitions within a 1/P share) is
            # fetched in one job instead of re-scanned on every one of
            # the steps_per_batch gradient jobs (bit-identical
            # trajectory). Assigning `df` releases what the trainer held
            # for its previous frame (replayed batches, partition count),
            # so each micro-batch is read fresh, and so is the trainer's
            # own frame after the reassignment below.
            self.trainer.fit(maxiter=self.steps_per_batch)
        finally:
            self.trainer.df = saved_df

    def attach(self, stream: DataFrame, checkpoint_dir: str):
        return _start_foreach_batch(stream, self.foreach_batch, checkpoint_dir)


def run_available_now(stream_df: DataFrame, checkpoint_dir: str, out_dir: str):
    """Drain a stream to parquet with availableNow and wait for it; the
    one parquet drain of the streaming plans and contract queries."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def ewma_stream(
    stream: DataFrame,
    alpha: float = 0.3,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Stateful streaming EWMA — the incremental twin of
    `operators.relational.ewma_last` for keys whose history is too long
    to collect: state per key is ONE (ewma, n, last_ts_us) triple,
    updated per micro-batch in event-time order; each batch emits the
    key's current value. No watermark/timeout needed: state is O(1) per
    key forever, the smallest possible stateful footprint.

    Note (documented divergence): cross-batch late data is folded in
    arrival order — exact parity with the batch fold holds when each
    key's events arrive time-ordered across batches (true for replayed
    logs and the availableNow drain used in tests).
    """

    def fn(key, pdfs, state: GroupState):
        rows = pd.concat(list(pdfs))
        ts = (rows[ts_col].astype("int64") // 1_000).to_numpy()
        vals = rows[value_col].to_numpy(dtype=float)
        order = np.argsort(ts, kind="stable")
        ts, vals = ts[order], vals[order]
        if state.exists:
            s, n, last = state.get
        else:
            s, n, last = float(vals[0]), 0, int(ts[0])
        for t, v in zip(ts, vals):
            if n > 0:
                s = alpha * float(v) + (1.0 - alpha) * s
            n += 1
            last = int(t)
        state.update((float(s), int(n), int(last)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_obs": [n], "ewma": [round(s, 6)]}
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_obs long, ewma double",
        stateStructType="s double, n long, last long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_ASOF_OUT_SCHEMA = "event_id long, last_value double"
_ASOF_STATE_SCHEMA = (
    "uids array<long>, ts array<long>, is_left array<int>, ids array<long>, "
    "vals array<double>, lr_uids array<long>, lr_vals array<double>"
)


def asof_join_stream(
    tagged: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    watermark: str = "2 hours",
    num_groups: int | None = None,
) -> DataFrame:
    """Custom stateful STREAMING as-of join (backward): each left row
    picks up the most recent right row at-or-before it within the same
    key. Spark has no streaming as-of primitive; this is operator
    category (b) — ``applyInPandasWithState`` with watermark-ordered
    buffering.

    Input: one pre-tagged stream (union of both sides) with columns
    (key, ts, is_left int, event_id long, value double). Right rows
    carry the value; left rows are the probes.

    Correctness under out-of-order arrival: rows BUFFER in state until
    the event-time watermark passes them — only then is the event-time
    order final, so matches are exact for any arrival order within the
    watermark bound (late data beyond it is dropped by the watermark,
    the standard contract).

    State granularity (r13, guide §4): the state key is a GROUP of user
    keys — ``pmod(xxhash64(key), num_groups)`` — not the raw key.
    ``applyInPandasWithState`` pays a per-state-key Arrow round-trip +
    pandas frame per micro-batch (measured ~16 ms per key on the sf0.1
    drain: 1501 user keys -> 24 s of cumulative per-key machinery for
    40k rows), so per-user state made the Python boundary, not the walk,
    the cost. Per-user results are independent of the grouping: inside a
    group the sealed rows walk in (ts, is_left, arrival) order with a
    per-user last-right dict, which is exactly the per-key walk's order.
    State per group = buffered rows inside the watermark horizon + one
    (uid, value) per user with an emitted right row — the same total
    bounded by horizon x rate, just partitioned coarser.
    ``num_groups`` defaults to the cluster's default parallelism: it
    scales with the cluster, and the per-group batch slice stays large
    enough that the per-group boundary cost amortizes.

    Tie rule: a right row at ts == left ts matches (right sorts before
    left at equal timestamps) — identical to the batch
    `relational.asof_join` and DuckDB's ASOF JOIN (l.ts >= r.ts).
    Cross-flush ties cannot occur: a row sealed in an earlier flush has
    ts <= that flush's watermark, and any row arriving later with the
    same ts would be late data the engine already dropped.

    ``key_col`` must be an integral column: the state stores keys as
    int64, so a string key would fail inside the first batch and a
    float key would be truncated into colliding keys. Any other type
    raises ``TypeError`` here, before the query is planned.
    """
    key_type = tagged.schema[key_col].dataType
    if not isinstance(key_type, T.IntegralType):
        raise TypeError(
            f"asof_join_stream: key column {key_col!r} must be integral, "
            f"got {key_type.simpleString()}"
        )
    groups = num_groups or 0
    if groups <= 0:
        groups = tagged.sparkSession.sparkContext.defaultParallelism
    tagged = tagged.withWatermark(ts_col, watermark).withColumn(
        "__grp", F.pmod(F.xxhash64(F.col(key_col)), F.lit(groups))
    )

    def fn(key, pdfs, state: GroupState):
        wm_us = state.getCurrentWatermarkMs() * 1000
        if state.exists:
            b_uid, b_ts, b_left, b_ids, b_vals, lr_uids, lr_vals = state.get
            b_uid, b_ts, b_left = list(b_uid), list(b_ts), list(b_left)
            b_ids, b_vals = list(b_ids), list(b_vals)
            lr = dict(zip(lr_uids, lr_vals))
        else:
            b_uid, b_ts, b_left, b_ids, b_vals = [], [], [], [], []
            lr = {}
        if not state.hasTimedOut:
            for rows in pdfs:
                if not len(rows):
                    continue
                b_uid += rows[key_col].astype("int64").tolist()
                b_ts += (rows[ts_col].astype("int64") // 1_000).tolist()  # µs
                b_left += rows["is_left"].astype(int).tolist()
                b_ids += rows["event_id"].astype("int64").tolist()
                b_vals += rows["value"].astype(float).tolist()
        else:
            for _ in pdfs:  # exhaust the (empty) iterator per API contract
                pass
        # process every buffered row the watermark has sealed, in event
        # time; right rows break ties ahead of left rows (is_left asc);
        # the sort is stable, so equal (ts, is_left) rows keep arrival
        # order — all exactly as the per-user walk ordered them
        order = sorted(range(len(b_ts)), key=lambda i: (b_ts[i], b_left[i]))
        out_ids, out_vals, keep = [], [], []
        for i in order:
            if b_ts[i] > wm_us:
                keep.append(i)
                continue
            if b_left[i]:
                out_ids.append(b_ids[i])
                out_vals.append(lr.get(b_uid[i]))
            else:
                lr[b_uid[i]] = float(b_vals[i])
        if keep or lr:
            state.update(
                (
                    [int(b_uid[i]) for i in keep],
                    [int(b_ts[i]) for i in keep],
                    [int(b_left[i]) for i in keep],
                    [int(b_ids[i]) for i in keep],
                    [float(b_vals[i]) for i in keep],
                    [int(u) for u in lr],
                    [float(v) for v in lr.values()],
                )
            )
            if keep:
                # wake up when the watermark can have sealed more rows
                state.setTimeoutTimestamp(
                    max(min(b_ts[i] for i in keep) // 1000, wm_us // 1000 + 1)
                )
        else:
            state.remove()
        if out_ids:
            yield pd.DataFrame({"event_id": out_ids, "last_value": out_vals})

    return tagged.groupBy("__grp").applyInPandasWithState(
        fn,
        outputStructType=_ASOF_OUT_SCHEMA,
        stateStructType=_ASOF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def hll_stream_maintenance(
    stream: DataFrame,
    key_col: str,
    state_dir: str,
    checkpoint_dir: str,
    b: int = 8,
):
    """Incremental distinct-count sketch over a stream: every micro-batch
    builds its own HLL register table (a batch DataFrame op on the
    micro-batch) and MAX-merges it into a persistent <= 2^b-row parquet
    state — the streaming version of the nightly sketch rollup.

    Because register MAX-merge is associative and commutative, the
    drained state is bit-identical to the batch sketch over the full
    data regardless of how rows split into micro-batches — which is what
    lets the oracle check the streaming path against the batch SQL.

    State (<= 2^b rows) lives in a versioned snapshot dir: replayed
    batches are skipped by batch_id (exactly-once folding even though
    register MAX-merge happens to be replay-idempotent anyway) and each
    commit is an atomic pointer flip — read it back with
    `streaming.load_state`. Returns the StreamingQuery.
    """
    from henbun_spark.operators import sketch

    def fold(prev, bdf: DataFrame):
        regs = sketch.hll_registers(bdf, key_col, b=b)
        return regs if prev is None else sketch.hll_merge(prev, regs)

    return _start_foreach_batch(
        stream, _versioned_fold(state_dir, fold), checkpoint_dir
    )


def mg_stream_maintenance(
    stream: DataFrame,
    key_col: str,
    state_dir: str,
    checkpoint_dir: str,
    k: int = 128,
):
    """Incremental heavy-hitter candidates over a stream: every
    micro-batch computes its per-partition Misra-Gries summaries
    (bounded mapInPandas scan, <= (k-1) rows per task), and foreachBatch
    folds them into a persistent <= (k-1)-row parquet state with the
    same `mg_fold` decrement rule.

    Folding summaries is the standard MG merge, so after draining the
    total undercount of any key is <= N_total / k — every key above the
    N/k threshold over the WHOLE stream survives in the state, no
    matter how rows split into micro-batches. The state that pivots
    through the driver per batch is bounded by k, not by data or key
    cardinality (MG's decrement fold is order-sensitive driver logic, so
    unlike the other sinks it keeps the bounded collect). Replayed
    batches are skipped by batch_id and commits are atomic pointer flips
    — a replay folded in twice would inflate candidate weights. Read the
    state back with `streaming.load_state`. Returns the StreamingQuery.
    """
    from henbun_spark.operators import sketch

    def fold(prev, bdf: DataFrame):
        summ = sketch.mg_summary(bdf, key_col, k=k).collect()
        d: dict = {}
        if prev is not None:
            for row in prev.collect():
                d[row["key"]] = int(row["wt"])
        sketch.mg_fold(d, ((r["key"], r["wt"]) for r in summ), k)
        return bdf.sparkSession.createDataFrame(
            [(kk, int(v)) for kk, v in d.items()], "key string, wt bigint"
        )

    return _start_foreach_batch(
        stream, _versioned_fold(state_dir, fold), checkpoint_dir
    )


def tdigest_stream_maintenance(
    stream: DataFrame,
    value_col: str,
    state_dir: str,
    checkpoint_dir: str,
    delta: int = 100,
):
    """Incremental quantile-sketch maintenance on a stream: each
    micro-batch builds its own bucketed t-digest
    (`sketch.tdigest_build`, deterministic md5 buckets) and folds the
    centroids into a persistent ~delta-row parquet digest via
    foreachBatch — the t-digest mergeability contract applied
    incrementally, the quantile sibling of `mg_stream_maintenance`
    (heavy hitters) and `hll` maintenance (distinct counts).

    State is bounded by ~2*delta centroid rows — never by data volume or
    value cardinality — so the same loop holds on an unbounded stream.
    Estimates after any prefix of batches carry the usual t-digest
    rank-error bound for the data seen so far. Replayed batches are
    skipped by batch_id (a centroid folded in twice doubles its weight)
    and commits are atomic pointer flips; read the state back with
    `streaming.load_state`. Returns the StreamingQuery.
    """
    from henbun_spark.operators import sketch

    def fold(prev, bdf: DataFrame):
        if not bdf.head(1):
            return None
        batch_digest = sketch.tdigest_merge(
            sketch.tdigest_build(bdf, value_col, delta=delta), delta=delta
        )
        if prev is None:
            return batch_digest
        return sketch.tdigest_merge(batch_digest, prev, delta=delta)

    return _start_foreach_batch(
        stream, _versioned_fold(state_dir, fold), checkpoint_dir
    )


def pca_stream_maintenance(
    stream: DataFrame,
    emb_col: str,
    state_dir: str,
    checkpoint_dir: str,
):
    """Incremental PCA sufficient statistics over a stream (r8): every
    micro-batch reduces to ONE (n, sum, Gram) row
    (`decomposition.suff_stats` — mapInPandas partials added by
    `local_replay.sum_partials`), and foreachBatch ADDS it into
    a persistent 1-row parquet state under the same versioned-snapshot
    exactly-once commit machinery as the sketch/MV maintenance sinks.

    Vector addition is associative and commutative, so the drained
    state — and the eigendecomposition computed from it
    (`decomposition.eig_from_stats`) — does not depend on how rows
    split into micro-batches (bit-identical whenever the inputs keep
    float sums exact, e.g. the planted dyadic contract data; within
    ~1e-15 reassociation noise otherwise). Read the state back with
    `streaming.load_state`; returns the StreamingQuery.
    """
    import numpy as np

    from henbun_spark.operators import decomposition

    def fold(prev, bdf: DataFrame):
        # explicit emptiness probe (limit-1 scan, negligible next to the
        # stats pass) — NOT a broad `except ValueError`, which would
        # also swallow a genuine shape/schema ValueError from
        # suff_stats and silently drop that batch's data
        if bdf.isEmpty():
            return None  # empty micro-batch: nothing to fold
        n, s, g = decomposition.suff_stats(bdf, emb_col)
        if prev is not None:
            r = prev.collect()[0]  # 1-row state: bounded driver read
            n += int(r["n"])
            s = s + np.asarray(r["s"], dtype=np.float64)
            g = g + np.asarray(r["g"], dtype=np.float64)
        return bdf.sparkSession.createDataFrame(
            [(int(n), [float(x) for x in s], [float(x) for x in g])],
            "n long, s array<double>, g array<double>",
        )

    return _start_foreach_batch(
        stream, _versioned_fold(state_dir, fold), checkpoint_dir
    )


def mv_stream_maintenance(
    stream: DataFrame,
    partials_fn,
    key_cols: list[str],
    state_dir: str,
    checkpoint_dir: str,
    agg_spec: dict | None = None,
):
    """Incremental materialized-view maintenance on a stream: every
    micro-batch aggregates itself with ``partials_fn`` (must emit only
    mergeable states — counts and exact sums over ``key_cols``) and
    folds into the persistent MV via `relational.merge_agg_states`
    (union + re-aggregation), the streaming twin of the batch
    `mv_incremental_daily` refresh.

    The per-batch cost is O(|batch| + |MV|): the base data is never
    rescanned. This rewrites the whole MV snapshot each batch — right
    while the MV is group-cardinality-sized (days x segments); for huge
    MVs use `mv_stream_maintenance_partitioned`, which rewrites only the
    partitions the batch touches, same merge math. Replayed batches are
    skipped by batch_id (folding a batch twice doubles its counts/sums)
    and commits are atomic pointer flips; because each snapshot is a
    fresh dir, the merge plan reads the previous snapshot lazily — the MV
    never pivots through the driver. Read it back with
    `streaming.load_state`. Returns the StreamingQuery.
    """
    from henbun_spark.operators import relational

    relational.validate_agg_spec(agg_spec)  # fail fast, before any state

    def fold(prev, bdf: DataFrame):
        partials = partials_fn(bdf)
        if prev is None:
            return partials
        return relational.merge_agg_states(
            prev, partials, key_cols, agg_spec=agg_spec
        )

    return _start_foreach_batch(
        stream, _versioned_fold(state_dir, fold), checkpoint_dir
    )


def bloom_stream_maintenance(
    stream: DataFrame,
    key_col: str,
    state_dir: str,
    checkpoint_dir: str,
    m_bits: int = 1 << 16,
    k: int = 4,
    salt: str = "bloom",
):
    """Streaming BLOOM-FILTER maintenance (path #28): the persistent
    state is the <= m_bits/32-row (word_idx, bits) bitmap over every
    key ingested so far — the runtime-filter build side of a recurring
    large join, maintained at ingest so any later probe (bloom
    pre-filter before a shuffle join, `sketch.bloom_filter_probe`) uses
    an always-current filter without rescanning the build table.

    Per batch: one `sketch.bloom_build` over the micro-batch (explode(k)
    + map-side-combinable bit_or) OR-merged into the state with a
    second bit_or groupBy over <= m_bits/32 + batch-words rows. Bitwise
    OR is associative, commutative AND idempotent, so the drained state
    equals the one-shot batch build bit-for-bit under ANY micro-batch
    split — and even a replayed batch could not corrupt it (the batch-id
    guard still applies, uniformly with the other paths). Bounded state,
    bounded per-batch work, md5-portable bits (oracle-reproducible).
    Read back with `load_state`.
    """
    from henbun_spark.operators import sketch

    def fold(prev, bdf: DataFrame):
        regs = sketch.bloom_build(bdf, key_col, m_bits=m_bits, k=k, salt=salt)
        if prev is None:
            return regs
        return (
            prev.unionByName(regs)
            .groupBy("word_idx")
            .agg(F.bit_or("bits").alias("bits"))
        )

    return _start_foreach_batch(
        stream, _versioned_fold(state_dir, fold), checkpoint_dir
    )


def bottomk_stream_maintenance(
    stream: DataFrame,
    key_col: str,
    state_dir: str,
    checkpoint_dir: str,
    k: int = 100,
    payload_cols: tuple = (),
    salt: str = "bk",
):
    """Streaming BOTTOM-K (priority) sample maintenance (path #27): the
    persistent state is the k rows with the SMALLEST md5 priority
    ``substr(md5(salt|key), 1, 16)`` among everything ingested so far —
    a uniform-without-replacement sample of the stream that any worker
    can recompute membership for (pure hash, no RNG state), the
    standard "hold a representative sample of an unbounded ingest"
    primitive (bottom-k / KMV sketch; its k-th smallest priority also
    estimates distinct count, and two states merge by union + re-top-k
    for cross-stream overlap).

    Per batch: one TakeOrdered(k) over (previous k rows) ∪ (batch) —
    bounded work and bounded state, no full sort, no shuffle beyond the
    k-row reduction. The fold is a rank-truncating MIN-like merge:
    associative, commutative, and insensitive to micro-batch splits, so
    the drained state equals the batch ``ORDER BY priority LIMIT k``
    bit-for-bit (oracle-checked). Keys are assumed unique across the
    stream's lifetime (the standard ingest contract here); a replayed
    batch is skipped by batch id and commits are atomic pointer flips.
    Ties on priority break by key. Read back with `load_state`.
    """

    def fold(prev, bdf: DataFrame):
        pr = F.substring(
            F.md5(
                F.concat_ws("|", F.lit(salt), F.col(key_col).cast("string"))
            ),
            1,
            16,
        )
        cand = bdf.select(
            F.col(key_col), *[F.col(c) for c in payload_cols]
        ).withColumn("pr", pr)
        if prev is not None:
            cand = prev.unionByName(cand)
        return cand.orderBy("pr", key_col).limit(k)

    return _start_foreach_batch(
        stream, _versioned_fold(state_dir, fold), checkpoint_dir
    )


def simhash_degree_stream_maintenance(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
):
    """Streaming near-dup DEGREE maintenance at ingest (path #26): every
    arriving document is banded against everything ingested so far, and
    the persistent state keeps one row per doc — (id, simhash
    fingerprint, n_near) — where n_near is its exact near-neighbor count
    (hamming <= max_hamming) within the corpus-so-far.

    This is what a 100-TB ingest pipeline actually runs: near-dup mass
    is known the moment a doc lands (admission control / dedup routing),
    without ever re-scanning the corpus. Per-batch cost is
    O(|batch| x bucket-mates): the batch's fingerprints band-join the
    INDEX's fingerprints (same pigeonhole blocks as the batch
    `simhash_neighbor_topk`), never index-vs-index.

    Exactly-once accounting under ANY batch split: a pair (a, b) is
    counted precisely when the LATER of the two arrives (or once
    in-batch when they arrive together), multi-block matches of the
    same pair collapse MAP-SIDE (first-agreeing-block emission — pure
    Column math on the fingerprints, no distinct shuffle), and the
    increment is applied symmetrically to both endpoints — so the
    drained (doc, n_near > 0) relation equals
    the batch degree aggregation bit-for-bit, independent of arrival
    order (degree is order-free). State commits are the same versioned
    atomic pointer flips as the other index paths (single state
    relation -> single commit point; replays skipped by batch id).

    Blocks are re-derived from the stored fingerprint per batch (4
    narrow projections of the index) instead of persisting the
    unpivoted block table — (k+1)x smaller state, same join.

    Doc ids are assumed UNIQUE across the stream's lifetime (the
    ingest contract of every index path here). The batch-vs-index join
    guards ``a.id != b.id`` so a violating re-ingest cannot self-pair
    and inflate its own degree, but state growth does no id dedup — a
    re-ingested id still lands a second state row; dedup upstream.

    Returns the StreamingQuery; read the state with `load_state`.
    """
    from henbun_spark.operators import dedup

    nblocks = max_hamming + 1
    block_bits = bits // nblocks

    def blocks_of(fps: DataFrame) -> DataFrame:
        cols = [
            F.shiftright(F.col("fp"), i * block_bits)
            .bitwiseAND(F.lit((1 << block_bits) - 1))
            .alias(f"blk{i}")
            for i in range(nblocks)
        ]
        pairs = ", ".join(f"{i}, blk{i}" for i in range(nblocks))
        return fps.select(id_col, "fp", *cols).selectExpr(
            id_col, "fp", f"stack({nblocks}, {pairs}) as (bi, blk)"
        )

    def hamming(a, b):
        return F.bit_count(F.col(a).bitwiseXOR(F.col(b)))

    def block_of(col, i):
        return F.shiftright(col, i * block_bits).bitwiseAND(
            F.lit((1 << block_bits) - 1)
        )

    def first_match():
        # emit a pair from its FIRST agreeing block only — per-pair
        # uniqueness without any distinct shuffle (same trick as the
        # batch simhash_near_pairs / simhash_neighbor_topk)
        cond = None
        for j in range(nblocks):
            c = (F.col("bi") <= F.lit(j)) | (
                block_of(F.col("a.fp"), j) != block_of(F.col("b.fp"), j)
            )
            cond = c if cond is None else (cond & c)
        return cond

    def fold(state, bdf: DataFrame):
        fps_new = dedup.simhash(
            bdf.select(id_col, text_col), text_col, id_col, bits
        ).withColumnRenamed("simhash", "fp")
        bn = blocks_of(fps_new)
        # within-batch pairs once (a < b) ...
        cands = (
            bn.alias("a")
            .join(bn.alias("b"), on=["bi", "blk"])
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .where(first_match())
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                hamming("a.fp", "b.fp").alias("h"),
            )
        )
        if state is not None:
            # ... plus batch-vs-index pairs (the index never self-joins)
            bo = blocks_of(state.select(F.col(id_col), F.col("fp")))
            cands = cands.unionByName(
                bn.alias("a")
                .join(bo.alias("b"), on=["bi", "blk"])
                # a re-ingested id must not pair with its own index row
                # (hamming 0 would inflate its n_near by nblocks-dedup'd 1)
                .where(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
                .where(first_match())
                .select(
                    F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    hamming("a.fp", "b.fp").alias("h"),
                )
            )
        pairs = cands.where(F.col("h") <= max_hamming).select("id_a", "id_b")
        deltas = (
            pairs.select(F.col("id_a").alias(id_col))
            .unionByName(pairs.select(F.col("id_b").alias(id_col)))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("delta"))
        )
        grown = fps_new.withColumn("n_near", F.lit(0).cast("long"))
        if state is not None:
            grown = state.unionByName(grown)
        return grown.join(deltas, on=id_col, how="left").select(
            id_col,
            "fp",
            (F.col("n_near") + F.coalesce(F.col("delta"), F.lit(0)))
            .cast("long")
            .alias("n_near"),
        )

    return _start_foreach_batch(
        stream, _versioned_fold(state_dir, fold), checkpoint_dir
    )


def mv_stream_maintenance_partitioned(
    stream: DataFrame,
    partials_fn,
    key_cols: list[str],
    partition_col: str,
    state_dir: str,
    checkpoint_dir: str,
    agg_spec: dict | None = None,
):
    """Partition-scoped streaming MV maintenance — the huge-MV variant of
    `mv_stream_maintenance`: the state is hive-partitioned on
    ``partition_col`` (which must be one of ``key_cols``), and each
    micro-batch (1) aggregates itself, (2) reads back ONLY the state
    partitions it touches (partition pruning on the scan), (3) merges,
    and (4) rewrites only those partitions via dynamic partition
    overwrite. Untouched partitions are never read or written, so the
    per-batch cost is O(|batch| + |touched partitions|) regardless of
    total MV size — a day-keyed MV over years of history folds in a
    late-arriving hour by touching one partition.

    The merged rows pivot through the driver (bounded by the touched
    partitions' MV rows, not the MV) because Spark refuses to overwrite
    a path that an active plan is reading.

    Idempotence is per partition: every state row carries a
    ``__last_batch`` stamp, and a replayed batch (foreachBatch is
    at-least-once) skips partitions already stamped with its batch_id.
    Because a dynamic partition OVERWRITE is not atomic (a crash during
    job commit can leave a touched partition's old files deleted and
    its new files unmoved — losing that partition's history), the
    post-merge rows are journaled FIRST (`<state>__journal` parquet +
    an atomically-replaced meta file), and every batch begins by
    re-applying any pending journal (`recover_partitioned_mv`): the
    journal holds final post-merge rows, so re-applying it is
    idempotent. A stamp ABOVE the incoming batch id means the
    checkpoint was reset — that raises rather than silently dropping
    data. Readers should drop the ``__last_batch`` column
    (`load_partitioned_state` does). Returns the StreamingQuery.
    """
    import os

    from henbun_spark.operators import relational

    if partition_col not in key_cols:
        raise ValueError("partition_col must be one of key_cols")
    relational.validate_agg_spec(agg_spec)  # fail fast, before any state

    def merge_batch(bdf: DataFrame, batch_id: int):
        spark = bdf.sparkSession
        recover_partitioned_mv(spark, state_dir, partition_col)
        partials = partials_fn(bdf)
        touched = [
            r[0] for r in partials.select(partition_col).distinct().collect()
        ]
        if not touched:
            return
        if os.path.exists(state_dir):
            # After a partial upgrade the state dir can hold a MIX of
            # pre-stamp and stamped files (each batch rewrites only its
            # touched partitions). A plain read whose sampled footer HAS
            # the stamp column handles the mix for free: parquet fills
            # the column with NULL for pre-stamp files, coalesced to -1
            # below. Only when the sampled footer LACKS the column is
            # the dir ambiguous (all-pre-stamp vs unlucky sample of a
            # mixed dir) — fall back to mergeSchema for THAT read alone.
            # The fallback reads every file's footer, so paying it on
            # every batch would break the documented
            # O(|batch| + |touched partitions|) per-batch cost; steady
            # state (stamped footers) never pays it.
            prev = spark.read.parquet(state_dir)
            if prev.columns and "__last_batch" not in prev.columns:
                prev = spark.read.option("mergeSchema", "true").parquet(
                    state_dir
                )
            prev = prev.where(F.col(partition_col).isin(touched))
            if prev.columns and "__last_batch" not in prev.columns:
                prev = prev.withColumn("__last_batch", F.lit(-1))
            elif "__last_batch" in prev.columns:
                prev = prev.withColumn(
                    "__last_batch",
                    F.coalesce(F.col("__last_batch"), F.lit(-1)),
                )
            if prev.columns:
                stamps = {
                    r[0]: r[1]
                    for r in prev.groupBy(partition_col)
                    .agg(F.max("__last_batch"))
                    .collect()
                }
                ahead = {p: s for p, s in stamps.items() if s > batch_id}
                if ahead:
                    raise ValueError(
                        f"state dir {state_dir} partitions {sorted(ahead)} "
                        f"carry batch stamps {sorted(set(ahead.values()))} "
                        f"above incoming batch {batch_id}: the streaming "
                        "checkpoint was reset or replaced. Reuse the "
                        "matching checkpoint dir, or start from a fresh "
                        "state dir."
                    )
                # partitions already stamped with this batch id were
                # committed by a previous attempt of the same batch
                todo = [p for p in touched if stamps.get(p) != batch_id]
                if not todo:
                    return
                if len(todo) < len(touched):
                    partials = partials.where(F.col(partition_col).isin(todo))
                    prev = prev.where(F.col(partition_col).isin(todo))
                partials = relational.merge_agg_states(
                    prev.select(*partials.columns), partials, key_cols,
                    agg_spec=agg_spec,
                )
        stamped = partials.withColumn("__last_batch", F.lit(int(batch_id)))
        rows = stamped.collect()
        sdf = spark.createDataFrame(rows, stamped.schema)
        # write-ahead journal: post-merge rows + atomically-flipped meta,
        # THEN the non-atomic partition overwrite, then journal removal
        jdir, jmeta = state_dir + "__journal", state_dir + "__journal.meta"
        sdf.coalesce(1).write.mode("overwrite").parquet(jdir)
        _write_json_atomic(
            jmeta, {"batch_id": int(batch_id), "partition_col": partition_col}
        )
        _overwrite_mv_partitions(spark, sdf, state_dir, partition_col)
        os.remove(jmeta)

    return _start_foreach_batch(stream, merge_batch, checkpoint_dir)


def _overwrite_mv_partitions(spark, sdf, state_dir, partition_col):
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    sdf.coalesce(1).write.mode("overwrite").partitionBy(
        partition_col
    ).parquet(state_dir)


def recover_partitioned_mv(spark, state_dir: str, partition_col: str) -> bool:
    """Re-apply a pending partitioned-MV journal left by a crash between
    the journal commit and the partition overwrite (or mid-overwrite).
    The journal holds the FINAL post-merge rows for the touched
    partitions, so overwriting from it is idempotent at any crash point.
    Returns True if a journal was applied. Runs automatically at the
    start of every micro-batch; call it manually before ad-hoc reads
    after an unclean shutdown."""
    import json
    import os

    jdir, jmeta = state_dir + "__journal", state_dir + "__journal.meta"
    if not os.path.exists(jmeta):
        return False
    with open(jmeta) as f:
        meta = json.load(f)
    if meta["partition_col"] != partition_col:  # pragma: no cover
        raise ValueError(
            f"journal {jmeta} was written for partition column "
            f"{meta['partition_col']!r}, not {partition_col!r}"
        )
    sdf = spark.read.parquet(jdir)
    _overwrite_mv_partitions(spark, sdf, state_dir, partition_col)
    os.remove(jmeta)
    return True
