"""Property-based golden tests: random change-set scripts driven through the
snapshot plan must match the Python FileDiff oracle on every tick —
generalizing the scripted EndToEnd scenarios to arbitrary op sequences
(appends, rewrites, shrinks, empty payloads, binary bytes) — and the
poll tick's driver-side change detection must select exactly what the
lazy plan's does."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
from tests.conftest import prop_examples
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kafka_connect_ftp_spark.ingest.model import (
    META_ARROW_SCHEMA,
    META_SCHEMA,
    STATE_ARROW_SCHEMA,
    STATE_SCHEMA,
    MonitoredPath,
    local_frame,
)
from kafka_connect_ftp_spark.ingest.snapshot import SELECTED_SCHEMA, snapshot
from tests.test_snapshot import BASE, expected_records, run_change_sets

PATHS = ["/tails/t0", "/tails/t1", "/updates/u0", "/updates/u1"]

payload = st.binary(min_size=0, max_size=64)
op = st.tuples(st.sampled_from(["append", "update"]), st.sampled_from(PATHS), payload).map(
    # tail dirs take appends AND rewrites (rewrites model external edits:
    # shrink / prefix mutation); update dirs only ever get rewritten
    lambda t: ("update" if t[1].startswith("/updates/") else t[0], t[1], t[2])
)
tick = st.lists(op, min_size=1, max_size=4)
script = st.lists(tick, min_size=1, max_size=4)


@settings(max_examples=prop_examples(12), deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(script=script)
def test_random_change_sets_match_oracle(spark, script):
    for i, (got, exp) in enumerate(run_change_sets(spark, script)):
        assert got == sorted(exp), f"tick {i} of {script!r}"


# Driver-side J1/F1/F2/L1 against the lazy plan's. Sizes and times come
# from small ranges, so listing and state often agree on one and differ
# on the other; times are whole seconds after BASE.
SEL_PATHS = [f"/d/f{i}" for i in range(6)]
SEL_MONITORS = [MonitoredPath("/d/", topic="t")]
_BASE_US = int(BASE.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
second = st.integers(0, 2).map(lambda s: _BASE_US + s * 1_000_000)
listed = st.dictionaries(st.sampled_from(SEL_PATHS), st.tuples(st.integers(0, 1), second))
tracked = st.dictionaries(
    st.sampled_from(SEL_PATHS),
    st.tuples(st.integers(0, 1), second, st.sampled_from(["h0", "h1"]), second, second),
)


def _capture(into):
    """A fetch that records the frame it is given and attaches empty bodies."""

    def fetch(meta):
        into.append(meta)
        return meta.withColumn("content", F.lit(b""))

    return fetch


@settings(max_examples=prop_examples(30), deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    listing=listed,
    state=tracked,
    max_age=st.one_of(st.none(), st.integers(0, 3), st.integers(0, 16).map(lambda n: n / 4)),
    max_files=st.one_of(st.none(), st.integers(0, 4)),
    now=st.integers(0, 4).map(lambda s: (BASE + dt.timedelta(seconds=s)).isoformat(sep=" ")),
)
# a size-only and a timestamp-only change, then the max-age boundary
@example(
    listing={"/d/f0": (1, _BASE_US), "/d/f1": (0, _BASE_US + 10**6)},
    state={p: (0, _BASE_US, "h0", _BASE_US, _BASE_US) for p in ("/d/f0", "/d/f1")},
    max_age=None, max_files=None, now=str(BASE),
)
@example(
    listing={"/d/f0": (0, _BASE_US + 10**6), "/d/f1": (0, _BASE_US)},
    state={}, max_age=1, max_files=None, now=str(BASE + dt.timedelta(seconds=2)),
)
def test_driver_selection_matches_lazy_plan(spark, listing, state, max_age, max_files, now):
    listing_t = pa.Table.from_pylist(
        [{"path": p, "size": s, "modification_time": t} for p, (s, t) in listing.items()],
        schema=META_ARROW_SCHEMA,
    )
    state_t = pa.Table.from_pylist(
        [
            {"path": p, "size": s, "timestamp": t, "hash": h, "first_fetched": f,
             "last_modified": m, "last_inspected": m, "offset": -1}
            for p, (s, t, h, f, m) in state.items()
        ],
        schema=STATE_ARROW_SCHEMA,
    )
    driver, lazy = [], []
    knobs = dict(now=now, max_age_seconds=max_age, max_files=max_files)
    _, updates, stats = snapshot(
        listing_t, state_t, SEL_MONITORS, spark=spark, fetch=_capture(driver),
        checkpoint=True, **knobs,
    )
    snapshot(
        local_frame(spark, META_SCHEMA, listing_t), local_frame(spark, STATE_SCHEMA, state_t),
        SEL_MONITORS, fetch=_capture(lazy), **knobs,
    )
    selected = SELECTED_SCHEMA.names
    want = sorted(lazy[0].select(selected).collect(), key=lambda r: r.path)
    got = sorted(driver[0].select(selected).collect(), key=lambda r: r.path) if driver else []
    assert got == want
    assert sorted(updates["path"].to_pylist()) == [r.path for r in want]
    assert stats.n_records == len(want)
