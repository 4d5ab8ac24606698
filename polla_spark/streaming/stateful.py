"""Custom stateful streaming operator: per-user sessionizer built on
``applyInPandasWithState`` (arbitrary state + event-time timeouts).

``F.session_window`` already covers gap-sessions declaratively
(streaming/windows.py); this operator exists for the semantics the
built-in cannot express — carrying arbitrary running state per key
(first/last event types, custom accumulators) and emitting exactly one
row per *closed* session. It is the template for the reference-shaped
"decide when a logical unit is complete" problems (SURVEY.md §2.6
streaming family; no reference analog — batch-only cron there).

Scale notes: state is one fixed-size row per live key (bounded by the
watermark-driven timeout, never by stream length); the shuffle is the
single ``groupBy(user_id)`` hash exchange any keyed-state operator
needs. Arrow moves each key-group's batch into pandas.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("start_us", T.LongType()),   # epoch micros (tz-proof)
        T.StructField("end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("qvalue", T.LongType()),     # sum(floor(value*100))
        T.StructField("first_type", T.StringType()),
        T.StructField("last_type", T.StringType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("qvalue", T.LongType()),
        T.StructField("first_type", T.StringType()),
        T.StructField("last_type", T.StringType()),
    ]
)


def make_session_kernel(gap_minutes: int = 120):
    """Build the sessionizer's ``applyInPandasWithState`` kernel at
    module level so it is DIRECTLY unit-testable with a fake
    GroupState (the functions/udaf ``.func`` discipline — executor-side
    kernel code is invisible to driver-process coverage tracing, so
    its edge branches need in-process exercise too)."""
    gap_us = gap_minutes * 60_000_000

    def fn(key, pdfs: Iterator["pd.DataFrame"], state) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        user_id = key[0]

        def session_row(s) -> "pd.DataFrame":
            return pd.DataFrame(
                {
                    "user_id": [user_id],
                    "start_us": [s[0]],
                    "end_us": [s[1]],
                    "n_events": [s[2]],
                    "qvalue": [s[3]],
                    "first_type": [s[4]],
                    "last_type": [s[5]],
                }
            )

        if state.hasTimedOut:
            yield session_row(state.get)
            state.remove()
            return

        rows = pd.concat(list(pdfs)).sort_values("ts")
        ts_us = (rows["ts"].astype("int64") // 1000).tolist()
        qvals = [int(v) for v in (rows["value"] * 100).apply(__import__("math").floor)]
        types = rows["event_type"].tolist()

        # Gap-interval merge: treat the stored state as one interval
        # and each event as a point interval, sort by start, fold with
        # the gap rule. A late-but-within-watermark event that lands
        # inside/before the stored session merges via min/max (first/
        # last types re-derived by (ts, type) — the batch oracle's
        # struct ordering) instead of dragging the session end
        # backwards; an event > gap older than the stored start closes
        # as its own earlier session, exactly as the batch oracle
        # groups it.
        items = [list(state.get)] if state.exists else []
        items.extend([t_us, t_us, 1, qv, et, et] for t_us, qv, et in zip(ts_us, qvals, types))
        items.sort(key=lambda s: (s[0], s[4], s[1], s[5]))

        cur = None
        for it in items:
            if cur is not None and it[0] - cur[1] <= gap_us:
                if (it[0], it[4]) < (cur[0], cur[4]):
                    cur[0], cur[4] = it[0], it[4]
                if (it[1], it[5]) > (cur[1], cur[5]):
                    cur[1], cur[5] = it[1], it[5]
                cur[2] += it[2]
                cur[3] += it[3]
            else:
                if cur is not None:
                    yield session_row(cur)  # in-kernel gap split
                cur = list(it)
        state.update(tuple(cur))
        # timeout fires when the event-time watermark passes this (ms)
        state.setTimeoutTimestamp(cur[1] // 1000 + gap_minutes * 60_000)

    return fn


def sessionize_stateful(
    events: DataFrame,
    *,
    gap_minutes: int = 120,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Emit one row per closed session: a session closes when the next
    event is > gap away (split detected in-kernel) or the watermark
    passes last_event + gap (event-time timeout).

    Expects columns ``ts timestamp, user_id long, event_type string,
    value double``; events must arrive time-ordered per key up to the
    watermark delay (standard streaming contract). Kernel built by
    :func:`make_session_kernel` (unit-testable in-process).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    fn = make_session_kernel(gap_minutes)
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


class TwsGroupStateAdapter:
    """Adapter exposing the ``applyInPandasWithState`` GroupState
    surface over a ``transformWithStateInPandas`` ValueState + timer
    handle, so :func:`make_session_kernel` runs UNCHANGED on both
    stateful transports — one kernel, two engines' worth of plumbing,
    zero behavioral drift (the q192 discipline applied to state).

    Timeout mapping: the kernel's ``setTimeoutTimestamp(ms)`` becomes
    a registered event-time TIMER (the TWS model); the processor
    deletes the previously-registered timer first so exactly one
    timer is live per key — GroupState semantics, where a new timeout
    replaces the old one.
    """

    def __init__(self, vstate, handle, timed_out: bool = False):
        self._v = vstate
        self._h = handle
        self.hasTimedOut = timed_out
        self.timeout_ms: int | None = None

    @property
    def exists(self) -> bool:
        return self._v.exists()

    @property
    def get(self):
        # GroupState.get raises when no state exists; mirror that
        # contract instead of letting tuple(None) surface a bare
        # TypeError if a timer ever fires for a cleared key (latent
        # for future kernels reusing the adapter — ADVICE r8)
        if not self._v.exists():
            raise ValueError(
                "TwsGroupStateAdapter.get: no state exists for this key "
                "(GroupState semantics: check .exists first)"
            )
        return tuple(self._v.get())

    def update(self, v) -> None:
        self._v.update(tuple(v))

    def remove(self) -> None:
        self._v.clear()

    def setTimeoutTimestamp(self, ms: int) -> None:
        self.timeout_ms = ms
        for old in self._h.listTimers():
            self._h.deleteTimer(old)
        self._h.registerTimer(ms)


def make_session_processor(gap_minutes: int = 120):
    """Build the TWS ``StatefulProcessor`` wrapping the SAME
    :func:`make_session_kernel` the applyInPandasWithState path runs
    (pinned equal in tests/test_stateful.py). Module-level factory so
    the processor is unit-testable in-process with fake handles —
    protobuf (the TWS state-server protocol) is only needed for the
    live query, not for the logic."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    fn = make_session_kernel(gap_minutes)

    class _Sessionizer(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._st = handle.getValueState("session", _STATE_SCHEMA)

        def handleInputRows(self, key, rows, timer_values):
            st = TwsGroupStateAdapter(self._st, self._handle)
            yield from fn(key, rows, st)

        def handleExpiredTimer(self, key, timer_values, expired_timer_info):
            st = TwsGroupStateAdapter(self._st, self._handle, timed_out=True)
            yield from fn(key, iter([]), st)

        def close(self) -> None:
            pass

    return _Sessionizer()


def sessionize_tws(
    events: DataFrame,
    *,
    gap_minutes: int = 120,
    watermark: str = "30 minutes",
) -> DataFrame:
    """The sessionizer on Spark 4's ``transformWithStateInPandas``
    (StatefulProcessor) API — the forward path for custom stateful
    operators (typed named states, per-state TTL, event-time timers).
    Output contract is IDENTICAL to :func:`sessionize_stateful`
    because both transports run the same extracted kernel.

    Requires the RocksDB state-store provider and ``google.protobuf``
    (see funnel_updates_tws); environments without them use
    :func:`sessionize_stateful` — same kernel, same output.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            make_session_processor(gap_minutes),
            SESSION_SCHEMA,
            "Append",
            "EventTime",
        )
    )


def sessionize_batch_oracle(events: DataFrame, *, gap_minutes: int = 120) -> DataFrame:
    """Batch ground truth for the stateful sessionizer: the identical
    session definition via ``session_window`` (gap merge), same output
    columns — used by the streaming==batch equivalence test."""
    from pyspark.sql import functions as F

    struct_first = F.min(F.struct("ts", "event_type"))
    struct_last = F.max(F.struct("ts", "event_type"))
    return (
        events.groupBy(
            F.session_window("ts", f"{gap_minutes} minutes").alias("w"), "user_id"
        )
        .agg(
            F.unix_micros(F.min("ts")).alias("start_us"),
            F.unix_micros(F.max("ts")).alias("end_us"),
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("qvalue"),
            struct_first.getField("event_type").alias("first_type"),
            struct_last.getField("event_type").alias("last_type"),
        )
        .drop("w")
    )


# ---------------------------------------------------------------------------
# Stateful incremental LSH (streaming twin #42 — q227's deployment shape)
# ---------------------------------------------------------------------------

LSH_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
    ]
)

_LSH_STATE_SCHEMA = T.StructType(
    [T.StructField("ids", T.ArrayType(T.LongType()))]
)


def make_lsh_bucket_kernel(max_bucket: int | None = None):
    """Build the incremental-LSH bucket kernel at module level so it
    is directly unit-testable with a fake GroupState (the
    make_session_kernel discipline).

    Per band-signature bucket the state is the SORTED list of doc ids
    already seen (re-sorted on every update, so the invariant holds
    regardless of arrival order); each micro-batch's new ids emit
    (old, new) pairs against the state plus (new, new) pairs within
    the batch, then merge into the state — every candidate pair is
    emitted exactly once per bucket, when its LATER member arrives
    (history x history never re-enumerates, the q227 contract). Pairs
    are normalized id_a < id_b; cross-BAND duplicates are deduped
    read-side by :func:`finish_lsh_pairs`, mirroring batch q227's
    global ``distinct()``.

    STATE-SIZE DISCLOSURE + THE CAP: unlike the sessionizer (one
    fixed row per live key) or the census twins (fixed key spaces), a
    bucket's id list grows with the true near-dup cluster size —
    inherent to the operator (the pairs themselves are quadratic in
    bucket width). ``max_bucket`` makes the documented hot-bucket
    width guard real: once a bucket holds ``max_bucket`` ids it
    FREEZES — later arrivals emit no pairs and are not stored (skip
    policy; within the batch that crosses the cap, the smallest new
    ids fill the remaining room, deterministically). Guarantees,
    pinned in tests/test_stateful.py: (a) the capped pair set is a
    subset of the uncapped one; (b) buckets whose total width never
    exceeds the cap emit IDENTICAL pairs — no false negatives below
    the budget; (c) on a planted mega-cluster of width W the recall
    is exactly C(min(W, max_bucket), 2) / C(W, 2) — the state/recall
    tradeoff a deployment tunes with q236's cluster-size histogram.
    ``max_bucket=None`` (the twin default) keeps the bucket unbounded
    so streamed ≡ batch exactly."""

    def fn(key, pdfs: Iterator["pd.DataFrame"], state) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        if state.hasTimedOut:  # pragma: no cover - NoTimeout config
            state.remove()
            return
        seen = list(state.get[0]) if state.exists else []
        seen_set = set(seen)
        new = sorted(
            {int(v) for batch in pdfs for v in batch["doc_id"]} - seen_set
        )
        if max_bucket is not None:
            room = max_bucket - len(seen)
            if room <= 0:
                return  # frozen bucket: skip, never grow past the cap
            new = new[:room]
        if not new:
            return
        ida: list[int] = []
        idb: list[int] = []
        for i, n in enumerate(new):
            for o in seen:
                a, b = (o, n) if o < n else (n, o)
                ida.append(a)
                idb.append(b)
            for m in new[i + 1 :]:  # new is sorted, so n < m
                ida.append(n)
                idb.append(m)
        state.update((sorted(seen + new),))
        if ida:
            yield pd.DataFrame({"id_a": ida, "id_b": idb})

    return fn


def lsh_pairs_stateful(docs: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """Streaming twin #42: INCREMENTAL LSH candidate maintenance as a
    keyed-state operator — the deployment shape q227 models (its
    batch form rebuilds the history signature table in-plan because
    queries are state-free by driver contract; a real incremental
    crawl dedup keeps the band-signature buckets as STATE and probes
    each micro-batch against them).

    The signature kernel is the IDENTICAL ``minhash_bands`` unpivot
    batch q53/q227 run (one definition, two transports); the keyed
    state carries each bucket's id list and the kernel emits every
    candidate pair exactly once, when its later member arrives. Shuffle per micro-batch: ONE hash exchange
    of the delta's 4 band rows per doc — work is |delta| probes +
    |new candidate pairs|, independent of accumulated history size
    (the q227 100 TB contract, now with history genuinely carried as
    state instead of rebuilt). No watermark/timeout: buckets never
    expire; ``max_bucket`` bounds per-bucket state via the kernel's
    freeze-at-cap policy (tradeoffs disclosed on the kernel builder —
    None keeps the twin exactly ≡ batch)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..plans.llmdata import minhash_bands

    sigs = minhash_bands(docs)
    # null-text docs have NULL signatures: the batch tiers' equi-join
    # drops them (nulls never match), but a streaming groupBy would
    # GROUP them into one bucket and invent pairs — filter to match
    sigs = sigs.filter(sigs["sig"].isNotNull())
    return sigs.groupBy("sig").applyInPandasWithState(
        make_lsh_bucket_kernel(max_bucket),
        outputStructType=LSH_PAIR_SCHEMA,
        stateStructType=_LSH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def fold_component_labels(
    labels: DataFrame, pairs: DataFrame, new_nodes: DataFrame | None = None
) -> DataFrame:
    """Streaming twin #48: incremental CLUSTER maintenance over the
    twin-#42 pair stream — the deployment tier batch q237 models.
    Each micro-batch's emitted candidate pairs fold into the standing
    (node, label) table via ``operators/graph.merge_components``
    (label-space contraction + broadcast remap; the corpus is never
    reshuffled and history pairs are never re-enumerated). Run from a
    ``foreachBatch`` sink, checkpointing the returned table per batch
    (tests/test_streaming.py drives the 3-batch pin: folded ≡ batch
    q67's from-scratch clustering). Shares ONE kernel definition with
    batch q237 — this wrapper only renames the pair columns."""
    from pyspark.sql import functions as F

    from ..operators.graph import merge_components

    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    return merge_components(labels, edges, new_nodes)


def finish_component_labels(labels: DataFrame, docs: DataFrame) -> DataFrame:
    """Read-side finisher for twin #48 (the er_entities pattern):
    docs that never appeared in any candidate pair are singletons —
    left-join the static corpus against the (pair-touched-docs-sized,
    broadcastable) label table and default each miss to itself."""
    from pyspark.sql import functions as F

    return (
        docs.select(F.col("doc_id").alias("node"))
        .join(F.broadcast(labels), "node", "left")
        .select("node", F.coalesce("label", F.col("node")).alias("label"))
    )


def finish_cluster_histogram(labels: DataFrame, docs: DataFrame) -> DataFrame:
    """Streaming twin #51: the LIVE cluster-size audit — q236's
    histogram read off the standing label table twin #48 maintains
    (finish_component_labels adds the pair-less singletons, then the
    IDENTICAL shared ``plans/llmdata.cluster_size_report`` tail
    runs). This is the monitor that re-prices the twin-#42
    ``max_bucket`` cap per epoch (SCALE.md audit→knob loop) without
    ever re-clustering: fold pairs (#48), read the histogram (#51),
    choose the cap (q238's grid)."""
    from pyspark.sql import functions as F

    from ..plans.llmdata import cluster_size_report

    comp = finish_component_labels(labels, docs).select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )
    return cluster_size_report(comp)


def finish_lsh_pairs(pairs: DataFrame) -> DataFrame:
    """Read-side finisher: dedupe cross-band emissions (batch q227's
    global ``distinct()``) and decorate with q227's both_new flag."""
    from pyspark.sql import functions as F

    return (
        pairs.distinct()
        .select(
            "id_a",
            "id_b",
            (
                (F.pmod("id_a", F.lit(3)) == 0)
                & (F.pmod("id_b", F.lit(3)) == 0)
            ).cast("int").alias("both_new"),
        )
        .orderBy("id_a", "id_b")
    )
