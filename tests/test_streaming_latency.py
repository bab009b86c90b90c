"""Streaming ResponseLatency: the latency-aware stateful kernel vs
hand-computed expectations — in-order fast path, heal-time judging,
NULL-ts no-evidence contract, eviction seeding, fast/slow equality,
combined transitions+latency state, and a real availableNow run."""

from __future__ import annotations

import time

import pandas as pd
import pytest

from dataval_spark.quality import QualityFlag
from dataval_spark.streaming.stateful import make_validator

_LAT = int(QualityFlag.InvalidLatency)
_GAP = int(QualityFlag.SequenceGap)
_TRN = int(QualityFlag.InvalidTransition)

BOUNDS = (1.0, 100.0)  # legal gap: 1s..100s inclusive


class _FakeState:
    def __init__(self):
        self.hasTimedOut = False
        self.exists = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True

    def setTimeoutDuration(self, ms):
        pass

    def remove(self):
        self.exists = False


def _pdf(rows, datetime_ts=True):
    """rows: list of (turn_idx, ts_seconds or None)."""
    idx, secs = zip(*rows)
    if datetime_ts:
        ts = pd.to_datetime(
            pd.Series([s if s is not None else None for s in secs], dtype="float64"),
            unit="s",
        )
    else:
        ts = pd.Series([s if s is not None else float("nan") for s in secs])
    return pd.DataFrame({"turn_idx": list(idx), "ts": ts})


def _last_flags(frames):
    out = pd.concat(frames)
    return dict(zip(out["turn_idx"], out["dataval"]))


def _run(batches, bounds=BOUNDS, state=None, allowed=None):
    v = make_validator(allowed, latency_bounds=bounds)
    state = state or _FakeState()
    frames = []
    for b in batches:
        frames.extend(v(("c",), iter([b]), state))
    return _last_flags(frames), state


def test_in_order_fast_path_bounds():
    # gaps: -, 5 (ok), 0.5 (too fast), 500 (too slow), 50 (ok)
    flags, _ = _run([_pdf([(0, 0.0), (1, 5.0), (2, 5.5), (3, 505.5), (4, 555.5)])])
    assert flags[0] & _LAT == 0          # first turn exempt
    assert flags[1] & _LAT == 0
    assert flags[2] & _LAT == _LAT       # 0.5s < 1s
    assert flags[3] & _LAT == _LAT       # 500s > 100s
    assert flags[4] & _LAT == 0


def test_cross_batch_head_gap_checked():
    """The first turn of a later batch is judged against the previous
    batch's tail ts carried in state (both fast-path batches)."""
    flags, _ = _run([_pdf([(0, 0.0), (1, 10.0)]), _pdf([(2, 5000.0)])])
    assert flags[2] & _LAT == _LAT


def test_heal_time_judging_merges_with_gap_heal():
    """Turn 2 arrives first (gap, latency unknowable), then turn 1 lands:
    ONE re-emission clears the gap AND carries the latency verdict."""
    b1 = _pdf([(0, 0.0), (2, 10.0)])
    b2 = _pdf([(1, 9.8)])  # gap 1->2 is 0.2s: too fast
    v = make_validator(None, latency_bounds=BOUNDS)
    st = _FakeState()
    flags1 = _last_flags(list(v(("c",), iter([b1]), st)))
    assert flags1[2] & _GAP == _GAP and flags1[2] & _LAT == 0
    flags2 = _last_flags(list(v(("c",), iter([b2]), st)))
    assert flags2[1] & _LAT == 0         # 0->1 gap 9.8s legal
    assert flags2[2] & _GAP == 0         # healed...
    assert flags2[2] & _LAT == _LAT      # ...and judged in the same row


def test_pending_predecessor_judged_at_own_arrival():
    """Arrivals 0, 5, 6: turn 6's predecessor (5) is still pending but
    both timestamps are known -> judged at 6's own arrival."""
    flags, _ = _run([_pdf([(0, 0.0), (5, 50.0)]), _pdf([(6, 5000.0)])])
    assert flags[6] & _LAT == _LAT
    assert flags[5] & _GAP == _GAP       # 5 itself still gapped (1-4 missing)


def test_null_ts_is_no_evidence_both_sides():
    flags, _ = _run([_pdf([(0, 0.0), (1, None), (2, 10.0), (3, 5000.0)])])
    assert flags[1] & _LAT == 0          # NULL own ts
    assert flags[2] & _LAT == 0          # predecessor ts NULL
    assert flags[3] & _LAT == _LAT       # 2->3 fully known and too slow


def test_eviction_exempts_evicted_but_seeds_next_pair():
    from dataval_spark.streaming.stateful import MAX_PENDING

    # mid-conversation attach far past the cap: the overflow evicts the
    # attach turn (its predecessor never arrived -> exempt), and the turn
    # after it is judged against the evicted turn's recorded ts
    n = MAX_PENDING + 2
    rows = [(5000 + i, float(i)) for i in range(n)]
    rows[1] = (5001, 0.1)  # gap 0.1s vs evicted turn 5000: too fast
    flags, _ = _run([_pdf(rows)])
    assert flags[5000] & _LAT == 0       # evicted: predecessor unknown
    assert flags[5001] & _LAT == _LAT    # judged against 5000's ts
    assert flags[5002] & _LAT == 0       # 5001->5002 gap 1.9s legal


def test_fast_slow_paths_identical():
    """Same logical stream, datetime ts (fast path) vs float ts (slow
    path): byte-identical emissions and final state core."""
    rows1 = [(0, 0.0), (1, 5.0), (2, 5.2)]
    rows2 = [(3, 600.0), (4, 601.0)]
    v = make_validator(None, latency_bounds=BOUNDS)
    outs = []
    for dt in (True, False):
        st = _FakeState()
        frames = []
        for rows in (rows1, rows2):
            frames.extend(v(("c",), iter([_pdf(rows, datetime_ts=dt)]), st))
        out = pd.concat(frames).reset_index(drop=True)
        outs.append((out, st._v))
    pd.testing.assert_frame_equal(outs[0][0], outs[1][0])
    assert outs[0][1] == outs[1][1]


def test_combined_transitions_and_latency():
    rows = [(0, 0.0, "user"), (1, 5.0, "assistant"), (2, 5.2, "assistant")]
    idx, secs, roles = zip(*rows)
    pdf = pd.DataFrame({
        "turn_idx": list(idx),
        "ts": pd.to_datetime(list(secs), unit="s"),
        "role": list(roles),
    })
    v = make_validator({"user>assistant", "assistant>user"}, latency_bounds=BOUNDS)
    st = _FakeState()
    flags = _last_flags(list(v(("c",), iter([pdf]), st)))
    assert flags[1] == 0
    assert flags[2] & _TRN == _TRN       # assistant>assistant
    assert flags[2] & _LAT == _LAT       # 0.2s too fast
    # combined state round-trips: next batch judged against carried tail
    pdf2 = pd.DataFrame({
        "turn_idx": [3],
        "ts": pd.to_datetime([65.2], unit="s"),
        "role": ["user"],
    })
    flags2 = _last_flags(list(v(("c",), iter([pdf2]), st)))
    assert flags2[3] & _LAT == 0 and flags2[3] & _TRN == 0


def test_validator_guards():
    with pytest.raises(ValueError):
        make_validator(None, latency_bounds=(None, None))
    with pytest.raises(ValueError):
        make_validator(None, latency_bounds=(10.0, 1.0))


def test_streaming_latency_available_now(spark, tmp_path):
    """Real applyInPandasWithState run with latency bounds."""
    import json

    from dataval_spark.streaming.stateful import streaming_sequence_verdicts

    src = tmp_path / "src"
    src.mkdir()
    rows = [
        {"conv_id": "c1", "turn_idx": 0, "sec": 0.0},
        {"conv_id": "c1", "turn_idx": 1, "sec": 5.0},
        {"conv_id": "c1", "turn_idx": 2, "sec": 5.1},   # too fast
        {"conv_id": "c2", "turn_idx": 0, "sec": 0.0},
        {"conv_id": "c2", "turn_idx": 1, "sec": 9000.0},  # too slow
    ]
    with open(src / "batch.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    stream = (
        spark.readStream.schema("conv_id string, turn_idx int, sec double")
        .json(str(src))
        .selectExpr("conv_id", "turn_idx", "timestamp_seconds(sec) AS ts")
    )
    out = streaming_sequence_verdicts(stream, latency_bounds=(1.0, 100.0))
    q = (
        out.writeStream.format("memory")
        .queryName("lat_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        # processing-time state timeouts keep an availableNow query
        # scheduling no-data batches: it never terminates on its own,
        # and processAllAvailable() never returns. Wait for the batch
        # that read the input rows (its sink write precedes its progress)
        deadline = time.monotonic() + 120
        while sum(p["numInputRows"] for p in q.recentProgress) < 5:
            assert q.isActive and time.monotonic() < deadline
            time.sleep(0.2)
        got = {
            (r.conv_id, r.turn_idx): r.dataval
            for r in spark.sql("SELECT * FROM lat_out").collect()
        }
    finally:
        q.stop()
    assert got[("c1", 2)] & _LAT == _LAT
    assert got[("c2", 1)] & _LAT == _LAT
    assert got[("c1", 1)] & _LAT == 0


def test_batch_stream_parity_on_in_order_streams(spark):
    """For an in-order, gap-free stream the streaming kernel's latency
    and transition bits must agree row-for-row with the BATCH suite's
    ResponseLatency + RoleTransition on the same data — the two faces of
    the same constraints. Randomized conversations (seeded): mixed roles
    incl. NULLs, mixed gaps incl. NULL ts, delivered across several
    micro-batches."""
    import random

    from dataval_spark.constraints.core import ResponseLatency, RoleTransition
    from dataval_spark.streaming.stateful import make_validator
    from dataval_spark.suite import Suite

    rng = random.Random(2187)
    allowed = {"user>assistant", "assistant>user", "assistant>tool",
               "tool>assistant"}
    roles = ["user", "assistant", "tool", None]
    rows = []
    for c in range(40):
        sec = 0.0
        for i in range(rng.randint(1, 12)):
            sec += rng.choice([0.1, 2.0, 30.0, 5000.0])
            ts = None if rng.random() < 0.1 else sec
            rows.append((f"c{c}", i, rng.choice(roles), ts))

    # batch side: the real suite
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, sec double"
    ).selectExpr(
        "conv_id", "turn_idx", "role",
        "timestamp_seconds(sec) AS ts", "0 AS part",
    )
    suite = Suite(
        [
            ResponseLatency(min_seconds=1.0, max_seconds=100.0),
            RoleTransition(allowed=tuple(sorted(allowed))),
        ],
        part_col="part",
    )
    batch = {
        (r.conv_id, r.turn_idx): r.dataval & (_LAT | _TRN)
        for r in suite.flag_rows(suite.enrich(suite.project(df))).collect()
    }

    # streaming side: in-order delivery, 3 arbitrary batch cuts per conv
    v = make_validator(allowed, latency_bounds=(1.0, 100.0))
    got = {}
    by_conv: dict[str, list] = {}
    for cid, i, role, ts in rows:
        by_conv.setdefault(cid, []).append((i, role, ts))
    for cid, turns in by_conv.items():
        turns.sort()
        st = _FakeState()
        cuts = sorted(rng.sample(range(1, len(turns)), min(2, len(turns) - 1))) if len(turns) > 1 else []
        pieces = []
        prev = 0
        for cut in cuts + [len(turns)]:
            pieces.append(turns[prev:cut])
            prev = cut
        frames = []
        for piece in pieces:
            if not piece:
                continue
            pdf = pd.DataFrame({
                "turn_idx": [p[0] for p in piece],
                "ts": pd.to_datetime(
                    pd.Series([p[2] for p in piece], dtype="float64"), unit="s"
                ),
                "role": [p[1] for p in piece],
            })
            frames.extend(v((cid,), iter([pdf]), st))
        for idx, fl in _last_flags(frames).items():
            got[(cid, idx)] = fl & (_LAT | _TRN)

    assert got == batch
