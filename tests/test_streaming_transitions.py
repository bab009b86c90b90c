"""Streaming RoleTransition: the transition-aware stateful kernel vs
hand-computed expectations — in-order fast path, out-of-order heal-time
evaluation, cross-batch chains, NULL roles, fast/slow path equality, and
a real availableNow streaming run."""

from __future__ import annotations

import time

import pandas as pd
import pytest

from dataval_spark.quality import QualityFlag
from dataval_spark.streaming.stateful import make_validator, validate_conversation

_TRN = int(QualityFlag.InvalidTransition)
_GAP = int(QualityFlag.SequenceGap)

ALLOWED = {
    "system>user", "user>assistant", "assistant>user",
    "assistant>tool", "tool>assistant",
}


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


def _pdf(rows):
    idx, roles = zip(*rows)
    return pd.DataFrame({
        "turn_idx": list(idx),
        "ts": pd.to_datetime([10 * (i + 1) for i in range(len(rows))], unit="s"),
        "role": list(roles),
    })


def _last_flags(frames):
    """update-mode contract: last emission per turn wins."""
    out = pd.concat(frames)
    return dict(zip(out["turn_idx"], out["dataval"]))  # later rows overwrite


def _run(batches, allowed=ALLOWED, state=None):
    v = make_validator(allowed)
    state = state or _FakeState()
    frames = []
    for b in batches:
        frames.extend(v(("c",), iter([b]), state))
    return _last_flags(frames), state


def test_in_order_fast_path_flags_illegal_pairs():
    flags, _ = _run([_pdf([(0, "user"), (1, "assistant"), (2, "assistant"), (3, "user")])])
    assert flags[0] & _TRN == 0          # first turn exempt
    assert flags[1] & _TRN == 0          # user>assistant legal
    assert flags[2] & _TRN == _TRN       # assistant>assistant illegal
    assert flags[3] & _TRN == 0          # assistant>user legal


def test_cross_batch_chain_checked():
    b1 = _pdf([(0, "user"), (1, "assistant")])
    b2 = _pdf([(2, "assistant")])        # illegal vs batch-1 tail
    flags, _ = _run([b1, b2])
    assert flags[2] & _TRN == _TRN


def test_out_of_order_heal_evaluates_transition():
    """Turn 2 arrives before turn 1: its transition is unknown (no flag),
    then turn 1 fills the gap and turn 2 is re-emitted with the verdict
    (here: assistant>assistant illegal)."""
    b1 = _pdf([(0, "user"), (2, "assistant")])
    b2 = _pdf([(1, "assistant")])
    v = make_validator(ALLOWED)
    st = _FakeState()
    f1 = list(v(("c",), iter([b1]), st))
    flags1 = _last_flags(f1)
    assert flags1[2] & _TRN == 0         # predecessor unknown: no verdict yet
    assert flags1[2] & _GAP == _GAP
    f2 = list(v(("c",), iter([b2]), st))
    flags2 = _last_flags(f2)
    assert flags2[1] & _TRN == 0         # user>assistant legal
    assert flags2[2] & _TRN == _TRN      # re-emitted with the verdict
    assert flags2[2] & _GAP == 0         # and the gap healed


def test_null_role_breaks_chain_both_sides():
    flags, _ = _run([_pdf([(0, "user"), (1, None), (2, "assistant")])])
    assert flags[0] & _TRN == 0
    assert flags[1] & _TRN == _TRN       # user>NULL
    assert flags[2] & _TRN == _TRN       # NULL>assistant


def test_pending_pair_judged_without_prefix_reach():
    """Review regression: arrivals 0(user), 5(assistant), 4(assistant)
    with 1-3 never arriving — the 4>5 pair is fully known once 4 lands,
    so turn 5 must be re-emitted with InvalidTransition even though the
    contiguous prefix never reaches it."""
    b = [
        _pdf([(0, "user")]),
        _pdf([(5, "assistant")]),
        _pdf([(4, "assistant")]),
    ]
    flags, _ = _run(b)
    assert flags[5] & _TRN == _TRN
    assert flags[5] & _GAP == 0          # and its gap healed by 4
    assert flags[4] & _GAP == _GAP       # 4's own predecessor still missing
    assert flags[4] & _TRN == 0          # ...so 4's own pair is exempt


def test_pending_predecessor_judges_arrival_immediately():
    """A turn whose predecessor is PENDING (not yet contiguous) is judged
    at its own arrival, not deferred to the prefix."""
    b = [_pdf([(3, "assistant")]), _pdf([(4, "assistant")])]
    flags, _ = _run(b)
    assert flags[3] & _TRN == 0          # predecessor 2 unknown: exempt
    assert flags[4] & _TRN == _TRN       # 3>4 judged from pending roles


def test_evicted_null_role_still_breaks_chain():
    """Review regression: an evicted turn whose role is an observed NULL
    is KNOWN — the successor's NULL>role pair must flag, matching the
    batch RoleTransition semantics."""
    import dataval_spark.streaming.stateful as S

    old = S.MAX_PENDING
    S.MAX_PENDING = 2
    try:
        flags, _ = _run([_pdf([(2, None), (3, "assistant"), (4, "user")])])
    finally:
        S.MAX_PENDING = old
    assert flags[3] & _TRN == _TRN       # NULL>assistant, judged at arrival
    assert flags[4] & _TRN == 0          # assistant>user legal


def test_empty_allowed_set_rejected():
    with pytest.raises(ValueError):
        make_validator(set())


def test_fast_and_slow_paths_agree():
    """datetime ts engages the fast path; float ts forces the row loop —
    identical flags either way."""
    rows = [(0, "user"), (1, "assistant"), (2, "assistant"), (3, "tool"), (4, "assistant")]

    def run(as_datetime):
        pdf = _pdf(rows)
        if not as_datetime:
            pdf["ts"] = pdf["ts"].astype("int64") / 1e9
        return _run([pdf])[0]

    assert run(True) == run(False)


def test_default_kernel_unchanged():
    """make_validator(None) is the exact legacy kernel: same module-level
    name, 6-field state, no role column required."""
    pdf = pd.DataFrame({
        "turn_idx": [0, 1, 2],
        "ts": pd.to_datetime([10, 20, 30], unit="s"),
    })
    st = _FakeState()
    out = pd.concat(validate_conversation(("c",), iter([pdf]), st))
    assert (out["dataval"] == 0).all()
    assert len(st.get) == 6


def test_streaming_end_to_end(spark, tmp_path):
    from dataval_spark.streaming.stateful import streaming_sequence_verdicts

    d = str(tmp_path / "src")
    df = spark.createDataFrame(
        [("c1", 0, "user", 10), ("c1", 1, "assistant", 20), ("c1", 2, "assistant", 30)],
        "conv_id string, turn_idx int, role string, sec int",
    ).withColumn("ts", __import__("pyspark").sql.functions.timestamp_seconds("sec")).drop("sec")
    df.write.parquet(d)
    stream = spark.readStream.schema(df.schema).parquet(d)
    q = (
        streaming_sequence_verdicts(stream, allowed_transitions=ALLOWED)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("trn_verdicts")
        .trigger(availableNow=True)
        .start()
    )
    try:
        # processing-time state timeouts keep an availableNow query
        # scheduling no-data batches: it never terminates on its own,
        # and processAllAvailable() never returns. Wait for the batch
        # that read the input rows (its sink write precedes its progress)
        deadline = time.monotonic() + 120
        while sum(p["numInputRows"] for p in q.recentProgress) < 3:
            assert q.isActive and time.monotonic() < deadline
            time.sleep(0.2)
        got = {
            r.turn_idx: r.dataval
            for r in spark.sql("SELECT * FROM trn_verdicts").collect()
        }
    finally:
        q.stop()
    assert got[2] & _TRN == _TRN
    assert got[1] & _TRN == 0
