"""applyInPandasWithState sessionizer: streaming == batch equivalence
(the correctness gate for non-SQL-expressible stateful ops)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polla_spark.streaming.stateful import (
    SESSION_SCHEMA,
    sessionize_batch_oracle,
    sessionize_stateful,
)

SF_DIR = "/root/testdata/sf0.001"
GAP_MIN = 120


@pytest.fixture(scope="module")
def staged_stream_dir(spark, tmp_path_factory):
    """Events split into time-ordered files (multi-microbatch arrival)
    plus two far-future sentinel files that push the watermark forward
    so every real session's event-time timeout fires before the
    stream drains."""
    from polla_spark.session import read_table

    d = tmp_path_factory.mktemp("stateful_stream")
    ev = (
        read_table(spark, SF_DIR, "events")
        .select("ts", "user_id", "event_type", "value")
        .orderBy("ts")
    )
    rows = ev.collect()
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.parquet(
            str(d / f"part{i}")
        )
    max_ts = rows[-1]["ts"]
    for i in range(2):
        sentinel = [(max_ts.replace(year=max_ts.year + 1 + i), -1, "sentinel", 0.0)]
        spark.createDataFrame(sentinel, ev.schema).coalesce(1).write.parquet(
            str(d / f"sentinel{i}")
        )
    return d, ev.schema


def test_stateful_sessionizer_equals_batch(spark, staged_stream_dir):
    d, schema = staged_stream_dir
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*/")
    )
    out = sessionize_stateful(stream, gap_minutes=GAP_MIN, watermark="5 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_stateful")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        tuple(r)
        for r in spark.table("sessions_stateful")
        .filter(F.col("user_id") >= 0)
        .collect()
    }

    from polla_spark.session import read_table

    ev = read_table(spark, SF_DIR, "events").select("ts", "user_id", "event_type", "value")
    expected = {
        tuple(r)
        for r in sessionize_batch_oracle(ev, gap_minutes=GAP_MIN)
        .select(*[f.name for f in SESSION_SCHEMA])
        .collect()
    }
    assert got == expected
    assert len(got) > 20  # real sessionization happened, not a trivial pass


def test_stateful_late_events_across_batches(spark, tmp_path):
    """Late-but-within-watermark events arriving in a LATER micro-batch
    must merge into the stored session via min/max (start can move
    back, end must not), matching the batch oracle."""
    import datetime as dt

    schema = "ts timestamp, user_id long, event_type string, value double"

    def t(minute: int) -> dt.datetime:
        return dt.datetime(2025, 6, 1, 10, 0) + dt.timedelta(minutes=minute)

    batch1 = [(t(5), 1, "a", 1.0), (t(15), 1, "b", 1.0)]
    # batch2: one event inside the stored interval, one EARLIER than the
    # stored start (within gap -> extends backwards), one after a gap
    batch2 = [(t(10), 1, "c", 1.0), (t(0), 1, "z", 1.0), (t(60), 1, "d", 1.0)]
    # two sentinel batches: the first advances the watermark, the
    # second triggers the event-time timeout sweep that closes the
    # still-open last session
    sent0 = [(t(60 * 24 * 400), -1, "sentinel", 0.0)]
    sent1 = [(t(60 * 24 * 800), -1, "sentinel", 0.0)]
    for i, chunk in enumerate((batch1, batch2, sent0, sent1)):
        spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(
            str(tmp_path / f"b{i}")
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp_path}/*/")
    )
    out = sessionize_stateful(stream, gap_minutes=20, watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        tuple(r)
        for r in spark.table("sessions_late").filter(F.col("user_id") >= 0).collect()
    }

    ev = spark.createDataFrame(batch1 + batch2, schema)
    expected = {
        tuple(r)
        for r in sessionize_batch_oracle(ev, gap_minutes=20)
        .select(*[f.name for f in SESSION_SCHEMA])
        .collect()
    }
    assert got == expected
    # the merged session spans t(0)..t(15) with 4 events, first=z last=b
    def us(x: dt.datetime) -> int:
        return int(x.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)

    merged = next(r for r in got if r[3] == 4)
    assert merged[1] == us(t(0))
    assert merged[2] == us(t(15))
    assert merged[5] == "z" and merged[6] == "b"


def test_clamped_balance_unknown_event_type_matches_batch(spark):
    """An event type absent from BALANCE_DELTAS must take q150's
    .otherwise(BALANCE_DEFAULT) branch, not the purchase value-cents
    branch (unknown types were once mis-mapped to value-cents)."""
    from polla_spark.functions.events import BALANCE_DEFAULT, balance_delta_col

    rows = [
        (1, "signup", 0.0),     # +1000
        (2, "refund", 99.0),    # unknown -> BALANCE_DEFAULT
        (3, "purchase", 2.5),   # +250
    ]
    got = [
        r["d"]
        for r in spark.createDataFrame(rows, "event_id long, event_type string, value double")
        .select("event_id", balance_delta_col().alias("d"))
        .orderBy("event_id")
        .collect()
    ]
    # 1000 - 50 + 250 = 1200
    assert BALANCE_DEFAULT == -50
    assert got == [1000, -50, 250] and sum(got) == 1200


def test_clamped_balance_null_purchase_value_matches_batch(spark):
    """A purchase with a NULL or NaN value contributes 0 to q150's
    balance: a NULL delta would silently drop the row from the window
    sum, and under Spark 4's default ANSI mode CAST(NaN AS LONG) would
    abort the query (functions/events.balance_delta_col)."""
    import math

    from polla_spark.functions.events import balance_delta_col

    schema = "event_id long, event_type string, value double"
    rows = [
        (1, "signup", 0.0),      # +1000
        (2, "purchase", None),   # null -> 0
        (3, "purchase", 2.5),    # +250
    ]
    total = (
        spark.createDataFrame(rows, schema)
        .select(balance_delta_col().alias("d"))
        .groupBy()
        .sum("d")
    )
    assert total.collect()[0][0] == 1250

    nan_total = (
        spark.createDataFrame([(9, "purchase", math.nan)], schema)
        .select(balance_delta_col().alias("d"))
        .groupBy()
        .sum("d")
    )
    assert nan_total.collect()[0][0] == 0


class _FakeState:
    """Minimal GroupState stand-in for in-process kernel tests."""

    def __init__(self, value=None, timed_out=False):
        self._value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = v

    def remove(self):
        self._value, self.removed = None, True

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


def _pdf(rows):
    import pandas as pd

    return pd.DataFrame(
        {
            "ts": pd.to_datetime([r[0] for r in rows], unit="s", utc=True),
            "user_id": [1] * len(rows),
            "event_type": [r[2] for r in rows],
            "value": [r[1] for r in rows],
        }
    )


def test_session_kernel_timeout_emits_and_removes():
    from polla_spark.streaming.stateful import make_session_kernel

    fn = make_session_kernel(gap_minutes=2)
    st = _FakeState(value=(10_000_000, 20_000_000, 3, 500, "view", "click"),
                    timed_out=True)
    out = list(fn((1,), iter([]), st))
    assert len(out) == 1 and st.removed
    r = out[0].iloc[0]
    assert (r["start_us"], r["end_us"], r["n_events"], r["qvalue"]) == (
        10_000_000, 20_000_000, 3, 500)


def test_session_kernel_gap_split_emits_closed_session():
    from polla_spark.streaming.stateful import make_session_kernel

    fn = make_session_kernel(gap_minutes=2)  # gap = 120s
    st = _FakeState()
    # two events 10s apart (one session), third 500s later (new session)
    out = list(fn((1,), iter([_pdf([(100, 1.0, "view"), (110, 2.5, "click"),
                                    (610, 1.0, "purchase")])]), st))
    assert len(out) == 1  # first session closed by the in-kernel split
    r = out[0].iloc[0]
    assert (r["start_us"], r["end_us"], r["n_events"], r["qvalue"],
            r["first_type"], r["last_type"]) == (
        100_000_000, 110_000_000, 2, 350, "view", "click")
    # live session = the purchase; timeout set at end + gap (ms)
    assert st.get[0] == 610_000_000 and st.get[2] == 1
    assert st.timeout_ms == 610_000 + 120_000


def test_session_kernel_late_event_merges_into_stored_session():
    from polla_spark.streaming.stateful import make_session_kernel

    fn = make_session_kernel(gap_minutes=2)
    # stored session [200s, 210s]; a late event at 150s (within gap of
    # the stored start) must EXTEND the session backwards via min/max,
    # not drag its end or emit anything
    st = _FakeState(value=(200_000_000, 210_000_000, 2, 300, "view", "click"))
    out = list(fn((1,), iter([_pdf([(150, 1.0, "ad")])]), st))
    assert out == []
    assert st.get == (150_000_000, 210_000_000, 3, 400, "ad", "click")


def test_session_kernel_much_older_event_closes_as_own_session():
    from polla_spark.streaming.stateful import make_session_kernel

    fn = make_session_kernel(gap_minutes=2)
    st = _FakeState(value=(1_000_000_000, 1_010_000_000, 1, 100, "view", "view"))
    # event 500s before the stored start (> gap): closes as its OWN
    # earlier session; stored session stays live
    out = list(fn((1,), iter([_pdf([(500, 2.0, "ad")])]), st))
    assert len(out) == 1
    r = out[0].iloc[0]
    assert (r["start_us"], r["end_us"], r["n_events"]) == (
        500_000_000, 500_000_000, 1)
    assert st.get[0] == 1_000_000_000 and st.get[2] == 1


def _fs_pdf(rows):
    """rows: (doc_id, n_chars, source, sh, bg) — lang is the key."""
    import pandas as pd

    return pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "n_chars": [r[1] for r in rows],
            "source": [r[2] for r in rows],
            "sh": [r[3] for r in rows],
            "bg": [r[4] for r in rows],
        },
        dtype=object,
    )


def test_fs_census_kernel_flags_and_sort():
    """In-process FS census kernel (make_fs_census_kernel): the SNM
    sort is (n_chars NULLS FIRST, doc_id) and the 4 flags reproduce
    the batch CASE semantics on a hand-checkable block."""
    from polla_spark.functions.linkage import make_fs_census_kernel

    fn = make_fs_census_kernel(window=1)  # only adjacent pairs
    st = _FakeState()
    # sorted order: doc 3 (NULL n_chars first), doc 1 (10), doc 2 (11)
    rows = [
        (1, 10, "web", ["a b c"], ["ab", "bc"]),
        (2, 11, "web", ["a b c"], ["ab", "xy"]),
        (3, None, "pdf", ["z z z"], ["zz"]),
    ]
    out = list(fn(("en",), iter([_fs_pdf(rows)]), st))
    got = {(r.g1, r.g2, r.g3, r.g4): r.c for r in out[0].itertuples()}
    # pair (3,1): src pdf!=web ->0; len NULL ->0; jac disjoint ->0;
    #             bg {zz} vs {ab,bc} overlap 0 < min(1,2)/2 -> 0
    # pair (1,2): src 1; len |10-11|*20=20 <= 21 -> 1; jac equal -> 1;
    #             bg inter {ab} 2*1 >= min(2,2)=2 -> 1
    assert got == {(0, 0, 0, 0): 1, (1, 1, 1, 1): 1}


def test_fs_census_kernel_null_sets_fold_to_zero():
    """NULL sh/bg (NULL text) folds flags to 0 — the batch CASE
    semantics, never a crash."""
    from polla_spark.functions.linkage import make_fs_census_kernel

    fn = make_fs_census_kernel(window=1)
    st = _FakeState()
    rows = [
        (1, 5, None, None, None),
        (2, 5, None, ["a"], ["aa"]),
    ]
    out = list(fn(("en",), iter([_fs_pdf(rows)]), st))
    got = {(r.g1, r.g2, r.g3, r.g4): r.c for r in out[0].itertuples()}
    # src: NULL source -> 0; len: equal -> 1; jac/bg: NULL side -> 0
    assert got == {(0, 1, 0, 0): 1}


def test_fs_census_kernel_split_block_raises():
    """Atomicity contract: the same lang in a second batch ABORTS."""
    import pytest

    from polla_spark.functions.linkage import make_fs_census_kernel

    fn = make_fs_census_kernel()
    st = _FakeState()
    list(fn(("en",), iter([_fs_pdf([(1, 5, "w", ["a"], ["aa"])])]), st))
    with pytest.raises(RuntimeError, match="atomicity"):
        list(fn(("en",), iter([_fs_pdf([(2, 6, "w", ["a"], ["aa"])])]), st))


class _FakeValueState:
    """TWS ValueState stand-in (exists()/get()/update()/clear())."""

    def __init__(self, value=None):
        self._v = value

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def clear(self):
        self._v = None


class _FakeTwsHandle:
    """TWS handle stand-in: timer registry per current key."""

    def __init__(self):
        self.timers = []

    def listTimers(self):
        return iter(list(self.timers))

    def deleteTimer(self, ms):
        self.timers.remove(ms)

    def registerTimer(self, ms):
        self.timers.append(ms)

    def getValueState(self, name, schema):  # used by make_session_processor
        self.vstate = _FakeValueState()
        return self.vstate


def test_tws_adapter_get_without_state_raises_descriptively():
    """GroupState.get contract on the TWS adapter: reading a cleared
    key (e.g. an expired timer firing after remove()) raises a
    descriptive error, not tuple(None)'s bare TypeError (ADVICE r8)."""
    import pytest

    from polla_spark.streaming.stateful import TwsGroupStateAdapter

    ad = TwsGroupStateAdapter(_FakeValueState(), _FakeTwsHandle())
    assert not ad.exists
    with pytest.raises(ValueError, match="no state exists"):
        _ = ad.get
    ad.update((1, 2))
    assert ad.get == (1, 2)
    ad.remove()
    with pytest.raises(ValueError, match="no state exists"):
        _ = ad.get


def test_tws_sessionizer_processor_equals_group_state_kernel():
    """The transformWithStateInPandas sessionizer is the SAME kernel
    behind an adapter — drive both transports in-process over the
    same scripted batches (split + live-session carry + timeout) and
    pin identical emissions and state. No protobuf needed: the logic
    is transport-independent; only the live wire protocol is gated."""
    from polla_spark.streaming.stateful import (
        make_session_kernel, make_session_processor,
    )

    batches = [
        _pdf([(100, 1.0, "view"), (110, 2.5, "click"), (610, 1.0, "purchase")]),
        _pdf([(630, 3.0, "click")]),
    ]

    # transport A: applyInPandasWithState kernel + _FakeState
    fn = make_session_kernel(gap_minutes=2)
    st = _FakeState()
    a_rows = []
    for b in batches:
        for out in fn((1,), iter([b.copy()]), st):
            a_rows.extend(map(tuple, out.itertuples(index=False)))
    a_timeout = st.timeout_ms

    # transport B: TWS processor + fake handle/value-state
    proc = make_session_processor(gap_minutes=2)
    handle = _FakeTwsHandle()
    proc.init(handle)
    b_rows = []
    for b in batches:
        for out in proc.handleInputRows((1,), iter([b.copy()]), None):
            b_rows.extend(map(tuple, out.itertuples(index=False)))
    assert b_rows == a_rows
    assert handle.vstate.get() == st.get          # identical live state
    assert handle.timers == [a_timeout]           # one live timer == timeout

    # timeout path: GroupState timed-out call == TWS expired timer
    st2 = _FakeState(value=st.get, timed_out=True)
    a_fin = [tuple(r) for out in fn((1,), iter([]), st2)
             for r in out.itertuples(index=False)]
    b_fin = [tuple(r) for out in proc.handleExpiredTimer((1,), None, None)
             for r in out.itertuples(index=False)]
    assert b_fin == a_fin and len(b_fin) == 1
    assert handle.vstate.get() is None            # state cleared on emit
    # a re-registered timeout REPLACES the old timer (GroupState
    # semantics) — feed another event and check exactly one timer
    for _ in proc.handleInputRows((1,), iter([_pdf([(700, 1.0, "view")])]), None):
        pass
    assert len(handle.timers) == 1


def test_tws_sessionizer_stream_equals_apply_in_pandas(spark, staged_stream_dir):
    """Live transformWithStateInPandas sessionizer == the
    applyInPandasWithState one on the same staged stream (and hence
    == batch, via test_stateful_sessionizer_equals_batch). Skipped
    where google.protobuf is absent (TWS wire protocol), like
    test_funnel_tws_equals_q108."""
    pytest.importorskip("google.protobuf")
    from polla_spark.streaming.stateful import sessionize_tws

    d, schema = staged_stream_dir
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/*/")
        )
        out = sessionize_tws(stream, gap_minutes=GAP_MIN, watermark="5 minutes")
        q = (
            out.writeStream.format("memory")
            .queryName("sessions_tws")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    got = {
        tuple(r)
        for r in spark.table("sessions_tws").filter(F.col("user_id") >= 0).collect()
    }
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*/")
    )
    out2 = sessionize_stateful(stream2, gap_minutes=GAP_MIN, watermark="5 minutes")
    q2 = (
        out2.writeStream.format("memory")
        .queryName("sessions_apips")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    want = {
        tuple(r)
        for r in spark.table("sessions_apips").filter(F.col("user_id") >= 0).collect()
    }
    assert got == want


def test_snm_pair_kernel_order_and_abort():
    """In-process twin-#33 kernel: pairs follow the SNM sort (n_chars
    NULLS FIRST, doc_id) at w<=3, and a split lang block aborts."""
    import pandas as pd
    import pytest

    from polla_spark.functions.linkage import make_snm_pair_kernel

    fn = make_snm_pair_kernel(window=2)
    st = _FakeState()
    rows = pd.DataFrame(
        {
            "doc_id": [5, 1, 9],
            "n_chars": [3, None, 2],
            "title": ["ccc", "a", "bb"],
        },
        dtype=object,
    )
    out = list(fn(("en",), iter([rows]), st))
    got = [tuple(r) for r in out[0].itertuples(index=False)]
    # sorted: doc 1 (NULL first), doc 9 (2), doc 5 (3)
    assert got == [
        (1, 9, 1, "a", "bb"),
        (1, 5, 2, "a", "ccc"),
        (9, 5, 1, "bb", "ccc"),
    ]
    with pytest.raises(RuntimeError, match="atomicity"):
        list(fn(("en",), iter([rows]), st))


def test_snm_sorted_kernel_bounded_state_and_order_abort():
    """In-process twin-#34 kernel: across sorted-arrival batches the
    emitted pairs equal the whole-block kernel's enumeration, the
    stored state never exceeds w rows, and a row that sorts before
    the previous batch's tail aborts."""
    import pandas as pd
    import pytest

    from polla_spark.functions.linkage import (
        make_snm_pair_kernel,
        make_snm_sorted_kernel,
    )

    cols = ["doc_id", "n_chars", "title"]
    # sorted block order (n_chars NULLS FIRST, doc_id):
    #   (1, None) (9, 2) (5, 3) (7, 3) (2, 8)
    block = [
        (1, None, "a"), (9, 2, "bb"), (5, 3, "ccc"),
        (7, 3, "dd"), (2, 8, "e"),
    ]
    whole = pd.DataFrame(block, columns=cols, dtype=object)
    want = [
        tuple(r)
        for r in next(
            make_snm_pair_kernel(window=3)(("en",), iter([whole]), _FakeState())
        ).itertuples(index=False)
    ]

    fn = make_snm_sorted_kernel(window=3)
    st = _FakeState()
    got = []
    # batches split MID-block (2 + 2 + 1 rows), each self-unsorted to
    # prove intra-batch order is free
    for chunk in ([block[1], block[0]], [block[3], block[2]], [block[4]]):
        pdf = pd.DataFrame(chunk, columns=cols, dtype=object)
        out = next(fn(("en",), iter([pdf]), st))
        got.extend(tuple(r) for r in out.itertuples(index=False))
        assert len(st.get[1]) <= 3  # state = last <=w rows, never the block
    # emission ORDER differs by construction (whole-block enumerates
    # i-then-d; sorted-arrival emits each pair when its later row
    # arrives) — the pair SET is the contract
    assert sorted(got) == sorted(want)

    # disorder across batches: next row sorts BEFORE the stored tail
    early = pd.DataFrame([(3, 1, "zz")], columns=cols, dtype=object)
    with pytest.raises(RuntimeError, match="sorted-arrival"):
        list(fn(("en",), iter([early]), st))


def test_fs_pair_kernel_matches_census_kernel():
    """Twin-#35 kernel: the flagged pair stream SUMS to exactly the
    census kernel's output (both run the one shared enumerator)."""
    import pandas as pd

    from polla_spark.functions.linkage import (
        make_fs_census_kernel,
        make_fs_pair_kernel,
    )

    rows = pd.DataFrame(
        {
            "doc_id": [5, 1, 9, 2],
            "n_chars": [30, None, 29, 400],
            "source": ["web", "web", "pdf", "web"],
            "sh": [["a b c"], None, ["a b c", "x y z"], ["q r s"]],
            "bg": [["ab"], ["ab"], ["ab", "cd"], None],
        },
        dtype=object,
    )
    pairs = next(make_fs_pair_kernel()(("en",), iter([rows.copy()]), _FakeState()))
    census = next(
        make_fs_census_kernel()(("en",), iter([rows.copy()]), _FakeState())
    )
    summed: dict[tuple, int] = {}
    for r in pairs.itertuples(index=False):
        k = (r.g1, r.g2, r.g3, r.g4)
        summed[k] = summed.get(k, 0) + 1
    want = {
        (r.g1, r.g2, r.g3, r.g4): r.c for r in census.itertuples(index=False)
    }
    assert summed == want and len(pairs) == 6  # C(4,2) at w=3


def _lsh_pdf(ids):
    import pandas as pd

    return pd.DataFrame({"doc_id": ids})


def test_lsh_bucket_kernel_emits_each_pair_once():
    """In-process incremental-LSH bucket kernel (make_lsh_bucket_kernel):
    batch 1 seeds the bucket and emits its within-batch pairs; batch 2
    emits old x new + new x new, never re-emitting history pairs; a
    batch of already-seen ids emits nothing and leaves state alone."""
    from polla_spark.streaming.stateful import make_lsh_bucket_kernel

    fn = make_lsh_bucket_kernel()
    st = _FakeState()
    out1 = list(fn(("sig",), iter([_lsh_pdf([3, 1])]), st))
    assert len(out1) == 1
    assert sorted(zip(out1[0]["id_a"], out1[0]["id_b"])) == [(1, 3)]
    assert st.get == ([1, 3],)

    out2 = list(fn(("sig",), iter([_lsh_pdf([2, 5, 2])]), st))
    got = sorted(zip(out2[0]["id_a"], out2[0]["id_b"]))
    # old x new: (1,2),(2,3),(1,5),(3,5); new x new: (2,5)
    assert got == [(1, 2), (1, 5), (2, 3), (2, 5), (3, 5)]
    # state is re-sorted on update (the kernel's documented invariant)
    assert st.get == ([1, 2, 3, 5],)

    out3 = list(fn(("sig",), iter([_lsh_pdf([3, 5])]), st))
    assert out3 == []
    assert st.get == ([1, 2, 3, 5],)


def test_lsh_bucket_kernel_normalizes_and_dedupes_within_batch():
    """Pairs are normalized id_a < id_b regardless of arrival order,
    and duplicate ids inside one micro-batch collapse before pairing
    (the batch tiers' DISTINCT doc grain)."""
    from polla_spark.streaming.stateful import make_lsh_bucket_kernel

    fn = make_lsh_bucket_kernel()
    st = _FakeState(value=([7],))
    out = list(fn(("sig",), iter([_lsh_pdf([9, 9, 4])]), st))
    got = sorted(zip(out[0]["id_a"], out[0]["id_b"]))
    assert got == [(4, 7), (4, 9), (7, 9)]
    assert st.get == ([4, 7, 9],)


def _drain_lsh(fn, batches, st):
    """Run a batch sequence through an LSH bucket kernel, returning
    the flattened normalized pair set."""
    pairs = set()
    for b in batches:
        for out in fn(("sig",), iter([_lsh_pdf(b)]), st):
            pairs |= set(zip(out["id_a"], out["id_b"]))
    return pairs


def test_lsh_bucket_kernel_cap_subset_and_freeze():
    """max_bucket pin (a): the capped pair set is a strict subset of
    the uncapped one on the same batch sequence, and a frozen bucket
    (state at cap) neither emits nor grows on later arrivals."""
    from polla_spark.streaming.stateful import make_lsh_bucket_kernel

    batches = [[3, 1], [2], [8, 4], [10]]
    uncapped = _drain_lsh(make_lsh_bucket_kernel(), batches, _FakeState())
    st = _FakeState()
    capped = _drain_lsh(make_lsh_bucket_kernel(max_bucket=4), batches, st)
    assert capped < uncapped  # strict: the cap dropped something
    # batch 3 had room for one of {4, 8}: smallest id fills it
    assert st.get == ([1, 2, 3, 4],)
    # frozen: a further batch emits nothing and leaves state alone
    fn = make_lsh_bucket_kernel(max_bucket=4)
    assert list(fn(("sig",), iter([_lsh_pdf([99])]), st)) == []
    assert st.get == ([1, 2, 3, 4],)


def test_lsh_bucket_kernel_cap_no_false_negatives_below_budget():
    """max_bucket pin (b): a bucket whose total width never exceeds
    the cap emits pairs IDENTICAL to the uncapped kernel — the cap
    only ever bites past the budget."""
    from polla_spark.streaming.stateful import make_lsh_bucket_kernel

    batches = [[3, 1], [2, 5]]  # width 4 == cap
    uncapped = _drain_lsh(make_lsh_bucket_kernel(), batches, _FakeState())
    st = _FakeState()
    capped = _drain_lsh(make_lsh_bucket_kernel(max_bucket=4), batches, st)
    assert capped == uncapped == {(1, 3), (1, 2), (2, 3), (1, 5), (2, 5), (3, 5)}
    assert st.get == ([1, 2, 3, 5],)


def test_capped_kernel_matches_q238_audit(spark):
    """COHERENCE pin between the streaming knob and its batch audit:
    driving the capped kernel over the real corpus's band buckets in
    doc_id order (the ordered-stream deployment) emits EXACTLY the
    pair set q238 counts as kept at that cap — the audit query
    measures the policy the kernel implements, not an approximation
    of it."""
    from pyspark.sql import functions as F

    from polla_spark.plans.llmdata import (
        _spread,
        q238_capped_lsh_recall,
        with_minhash,
    )
    from polla_spark.streaming.stateful import make_lsh_bucket_kernel

    sf = "/root/testdata/sf0.001"
    docs = _spread(spark, spark.read.parquet(f"{sf}/documents.parquet"))
    long = (
        with_minhash(docs)
        .selectExpr("doc_id", "stack(4, mh0, mh1, mh2, mh3) as sig")
        .filter(F.col("sig").isNotNull())
    )
    buckets: dict[str, list[int]] = {}
    for r in long.collect():  # test-only materialization
        buckets.setdefault(r["sig"], []).append(r["doc_id"])
    for cap in (2, 8):
        kernel_pairs = set()
        for ids in buckets.values():
            st = _FakeState()
            # one doc per micro-batch, ascending doc_id = ordered stream
            kernel_pairs |= _drain_lsh(
                make_lsh_bucket_kernel(max_bucket=cap),
                [[i] for i in sorted(ids)],
                st,
            )
        audit = {
            r["cap"]: (r["n_pairs_kept"], r["n_pairs_lost"])
            for r in q238_capped_lsh_recall(spark, sf).collect()
        }
        assert len(kernel_pairs) == audit[cap][0]
    spark.catalog.clearCache()


def test_lsh_bucket_kernel_cap_megacluster_recall():
    """max_bucket pin (c): on a planted mega-cluster of width W=20
    with cap 5 the kernel keeps exactly C(5,2)=10 of C(20,2)=190
    pairs — recall C(cap,2)/C(W,2), the state/recall tradeoff the
    q236 cluster-size histogram tunes (SCALE.md)."""
    from polla_spark.streaming.stateful import make_lsh_bucket_kernel

    batches = [list(range(100, 110)), list(range(110, 120))]
    uncapped = _drain_lsh(make_lsh_bucket_kernel(), batches, _FakeState())
    capped = _drain_lsh(make_lsh_bucket_kernel(max_bucket=5), batches, _FakeState())
    assert len(uncapped) == 190 and len(capped) == 10
    assert capped == {(a, b) for a in range(100, 105) for b in range(a + 1, 105)}
    assert capped < uncapped
