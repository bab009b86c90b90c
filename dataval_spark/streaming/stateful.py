"""Stateful streaming sequence validation — the per-conversation checks
(duplicate turn, sequence gap, non-monotonic ts) on an unbounded stream.

Batch mode does these with one window pass (suite.py). On a stream the
conversation's history must be carried as state: this operator keeps a
CONTIGUOUS-PREFIX counter plus a bounded pending-index set per conv_id
via ``applyInPandasWithState`` and emits one verdict row per incoming
turn.

Semantics on a stream are arrival-order based, with healing:

* duplicate  — the turn index was genuinely seen before (prefix or
  pending set), so a late arrival that FILLS a gap is recognized as a
  gap-filler, never misflagged as a replay;
* gap        — the immediate predecessor index has not arrived yet;
* healed gap — when the missing predecessor arrives, the turn that was
  flagged gapped is RE-emitted with the SequenceGap bit cleared (update
  output mode: last write per key wins downstream);
* out-of-order ts — arrival ts below the conversation's running max.

State size: 4 scalars + a pending set bounded at MAX_PENDING indexes per
live conversation (the pending set only holds indexes above the
contiguous prefix, so for a healthy stream it is empty). Overflow uses
WATERMARK eviction: the lowest pending index is evicted and the prefix
advances past it, so state stays a sliding window over the most recent
indexes — replays below the window degrade to DuplicateTurn flags (the
conservative direction) rather than spurious gaps. O(live convs) state
total, with ProcessingTimeTimeout eviction for idle conversations.
"""

from __future__ import annotations

import heapq
from collections.abc import Iterator

import numpy as np
import pandas as pd

from dataval_spark.quality import QualityFlag

OUTPUT_SCHEMA = (
    "conv_id string, turn_idx int, dataval int, max_idx_seen int, n_seen long"
)
STATE_SCHEMA = (
    "contig int, max_idx int, n_seen long, last_ts double, "
    "pend_idx array<int>, pend_flags array<int>"
)
# transition-aware variant: pending roles + the role at the prefix head
# (known flag separate from value — a NULL role VALUE is still "known"
# and breaks the chain, while an unknown predecessor is exempt)
STATE_SCHEMA_T = STATE_SCHEMA + (
    ", pend_roles array<string>, last_role string, last_role_known boolean"
)
# latency-aware variant: the pending turns' REAL timestamps (NULL ts
# stays NULL — last_ts substitutes only for the OOO watermark) plus the
# prefix-head turn's ts. No separate known flag: an unobserved
# predecessor and an observed NULL-ts predecessor are both "no
# evidence" for latency (unlike roles, where an observed NULL breaks).
_L_FIELDS = ", pend_ts array<double>, prev_turn_ts double"
STATE_SCHEMA_L = STATE_SCHEMA + _L_FIELDS
STATE_SCHEMA_TL = STATE_SCHEMA_T + _L_FIELDS

_DUP = int(QualityFlag.DuplicateTurn)
_GAP = int(QualityFlag.SequenceGap)
_OOO = int(QualityFlag.NonMonotonicTs)
_TRN = int(QualityFlag.InvalidTransition)
_LAT = int(QualityFlag.InvalidLatency)

MAX_PENDING = 1024

# bulk pending-run inserts only pay off past this length: below it the
# numpy slicing + membership scan costs more than the plain row loop
_MIN_BULK_RUN = 8


def _ts_seconds(col: pd.Series) -> np.ndarray:
    """The ts column as float epoch-seconds (NaN = NULL), converted once
    per batch. Per-row Timestamp boxing (``Series.tolist``) plus
    ``.timestamp()`` calls were ~30% of slow-path time on a 10k-row
    batch; one vectorized cast removes both."""
    if pd.api.types.is_datetime64_any_dtype(col):
        arr = col.to_numpy("datetime64[ns]")
        nat = np.isnat(arr)
        # match Timestamp.timestamp() exactly: pandas computes
        # round(value / 10**9, 6) with PYTHON int/int true division,
        # which rounds the exact rational — casting ns to float64 first
        # (or np.round) can differ in the last microsecond digit, and
        # the carried last_ts/pend_ts state must stay byte-identical to
        # the row loop's
        out = np.array(
            [round(v / 1_000_000_000, 6) for v in arr.view("int64").tolist()],
            dtype="float64",
        )
        out[nat] = np.nan
        return out
    if pd.api.types.is_numeric_dtype(col):
        return col.to_numpy(dtype="float64", na_value=np.nan)
    # object dtype (mixed/None): reproduce the row loop's old coercion
    return np.array(
        [
            np.nan
            if v is None or v != v
            else (v.timestamp() if hasattr(v, "timestamp") else float(v))
            for v in col.tolist()
        ],
        dtype="float64",
    )


def make_validator(allowed_transitions=None, latency_bounds=None):
    """Build the grouped stateful kernel. With ``allowed_transitions``
    (a set of "prev>cur" strings) the kernel ALSO checks dialogue
    transitions along the contiguous prefix — the streaming face of
    RoleTransition: a turn's transition is evaluated exactly when its
    immediate predecessor's role is known (in-order arrivals:
    immediately; gap-filled turns: re-emitted at heal time, same
    update-mode last-write-wins contract as gap healing; turns past a
    watermark eviction whose predecessor never arrived: exempt, the
    batch suite is authoritative there).

    ``latency_bounds=(min_seconds, max_seconds)`` (either side None)
    adds the streaming face of ResponseLatency under the SAME
    predecessor-known contract: the (prev_ts -> ts) gap is judged the
    moment both turns' timestamps are known — at arrival for in-order
    turns and for turns whose predecessor is pending, at heal time for
    a pending successor (one re-emission carrying gap-heal + latency +
    transition verdicts). A NULL ts on either side is no evidence (the
    batch constraint's contract), and a predecessor lost to watermark
    eviction exempts only itself — its recorded ts still seeds the
    chain for the turn after it."""
    allowed = None if allowed_transitions is None else set(allowed_transitions)
    if allowed is not None and not allowed:
        # mirror RoleTransition's constructor guard: an empty set would
        # flag every non-first turn — fail fast, same as the batch face
        raise ValueError(
            "allowed_transitions is empty — every transition would be "
            "flagged; pass None to disable the check"
        )
    if latency_bounds is not None:
        lat_min, lat_max = latency_bounds
        if lat_min is None and lat_max is None:
            # mirror ResponseLatency's constructor guard
            raise ValueError(
                "latency_bounds=(None, None) is vacuous; pass None to "
                "disable the check"
            )
        if lat_min is not None and lat_max is not None and lat_min > lat_max:
            raise ValueError(f"latency min {lat_min} > max {lat_max}")
        lat_min_f = float("-inf") if lat_min is None else float(lat_min)
        lat_max_f = float("inf") if lat_max is None else float(lat_max)
    check_lat = latency_bounds is not None

    def pair_ok(prev_role, cur_role) -> bool:
        # NULL on either side is never a legal pair (batch parity:
        # concat propagates NULL -> coalesce pins to violation)
        if prev_role is None or cur_role is None:
            return False
        return f"{prev_role}>{cur_role}" in allowed

    def lat_bad(prev_ts_val, cur_ts_val) -> bool:
        if prev_ts_val is None or cur_ts_val is None:
            return False  # no evidence
        gap = cur_ts_val - prev_ts_val
        return gap < lat_min_f or gap > lat_max_f

    def validate(key, pdf_iter: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        cols = ["conv_id", "turn_idx", "dataval", "max_idx_seen", "n_seen"]
        if state.hasTimedOut:
            state.remove()
            # yield an empty typed frame rather than bare-return: a generator
            # that never yields leaves the Arrow stream unterminated and
            # hard-crashes the Python worker on PySpark 4.1.2
            yield pd.DataFrame(columns=cols)
            return

        # NB: GroupState.get is a property in PySpark (not a method)
        pend_role: dict[int, object] = {}
        last_role, last_role_known = None, False
        pend_ts: dict[int, object] = {}
        prev_turn_ts = None  # ts of the turn AT index `contig`
        if state.exists:
            tup = list(state.get)
            contig, max_idx, n_seen, last_ts, pend_idx, pend_flags = tup[:6]
            rest = tup[6:]
            if allowed is not None:
                pend_roles, last_role, last_role_known = rest[:3]
                rest = rest[3:]
                pend_role = dict(zip(pend_idx, pend_roles))
            if check_lat:
                pend_ts_arr, prev_turn_ts = rest[:2]
                # NaN round-trips through the double column for NULL
                if prev_turn_ts is not None and prev_turn_ts != prev_turn_ts:
                    prev_turn_ts = None
                pend_ts = {
                    i: (None if t is None or t != t else t)
                    for i, t in zip(pend_idx, pend_ts_arr)
                }
            pending = dict(zip(pend_idx, pend_flags))
            # min-heap over pending indexes for O(log p) watermark
            # eviction (state stores them sorted — already a valid
            # heap). Entries drained by the prefix advance go stale in
            # the heap and are lazily skipped at eviction time; each
            # stale entry is popped at most once, so eviction stays
            # amortized O(log p) where the old min(pending) scan made
            # every over-cap insert an O(p) pass.
            pend_heap = list(pend_idx)
        else:
            contig, max_idx, n_seen, last_ts, pending = -1, -1, 0, float("-inf"), {}
            pend_heap = []

        def norm_role(r):
            # Arrow hands NULL strings as None or NaN depending on dtype
            return None if r is None or r != r else str(r)

        out_rows = []
        out_frames = []

        def _advance(cur_idx, cur_flags):
            """Advance the contiguous prefix; pruned entries need no
            further healing so they leave the state. In the transition
            variant each advance step also hands the popped turn its
            predecessor's role — turns whose pair was already judged at
            arrival/heal time carry _TRN in their pending flags and are
            not re-emitted here (same verdict either way; the guard just
            avoids a duplicate row). The CURRENT arrival folds its flag
            into its own emission (returned); older turns are RE-emitted
            (same contract as gap healing)."""
            nonlocal contig, last_role, last_role_known, prev_turn_ts
            while (contig + 1) in pending:
                contig += 1
                fl = pending.pop(contig)
                added = 0
                if allowed is not None:
                    r = pend_role.pop(contig, None)
                    has_prev = contig > 0 and last_role_known
                    if has_prev and not (fl & _TRN) and not pair_ok(last_role, r):
                        added |= _TRN
                    last_role, last_role_known = r, True
                if check_lat:
                    t = pend_ts.pop(contig, None)
                    if (
                        contig > 0
                        and not (fl & _LAT)
                        and lat_bad(prev_turn_ts, t)
                    ):
                        added |= _LAT
                    prev_turn_ts = t
                if added:
                    fl |= added
                    if contig == cur_idx:
                        cur_flags |= added
                    else:
                        out_rows.append(
                            (conv_id, contig, fl, max(max_idx, cur_idx), n_seen + 1)
                        )
            return cur_flags

        for pdf in pdf_iter:
            pdf = pdf.sort_values(["turn_idx", "ts"], kind="mergesort")

            # Vectorized fast path for the healthy-stream common case: no
            # pending holes, clean values, and the batch is exactly the next
            # contiguous run of indexes. Then no turn can be a duplicate or a
            # gap, so only the out-of-order-ts flag needs computing — one
            # numpy cummax instead of the Python row loop (measured 5x on a
            # 10k-turn in-order batch: 27 ms -> 5 ms per batch).
            if not pending and len(pdf) and pdf["turn_idx"].notna().all():
                idxs = pdf["turn_idx"].to_numpy(dtype="int64", na_value=-1)
                ts_col = pdf["ts"]
                if (
                    idxs[0] == contig + 1
                    and (np.diff(idxs) == 1).all()
                    and pd.api.types.is_datetime64_any_dtype(ts_col)
                    and ts_col.notna().all()
                ):
                    n = len(idxs)
                    # normalize the unit first: Arrow hands pandas
                    # datetime64[us], where astype(int64) would be micros
                    ts_s = ts_col.to_numpy(dtype="datetime64[ns]").astype("int64") / 1e9
                    prev_max = np.maximum.accumulate(
                        np.concatenate(([last_ts], ts_s))
                    )[:-1]
                    flags = np.where(ts_s < prev_max, _OOO, 0).astype("int64")
                    if check_lat:
                        # predecessor ts per row: the prefix head's for
                        # row 0 (exempt when unknown), the previous row's
                        # otherwise — all ts are non-null on this path
                        head = prev_turn_ts if prev_turn_ts is not None else np.nan
                        gaps = ts_s - np.concatenate(([head], ts_s[:-1]))
                        bad = (gaps < lat_min_f) | (gaps > lat_max_f)
                        if contig < 0 or prev_turn_ts is None:
                            bad[0] = False  # first turn / unknown head
                        bad &= ~np.isnan(gaps)
                        flags = flags | np.where(bad, _LAT, 0).astype("int64")
                        prev_turn_ts = float(ts_s[-1])
                    if allowed is not None:
                        roles = [norm_role(r) for r in pdf["role"]]
                        prevs = [last_role] + roles[:-1]
                        has_prev = [contig >= 0 and last_role_known] + [True] * (n - 1)
                        trn = np.array(
                            [
                                _TRN if hp and not pair_ok(p, c) else 0
                                for hp, p, c in zip(has_prev, prevs, roles)
                            ],
                            dtype="int64",
                        )
                        flags = flags | trn
                        last_role, last_role_known = roles[-1], True
                    out_frames.append(
                        pd.DataFrame(
                            {
                                "conv_id": conv_id,
                                "turn_idx": idxs,
                                "dataval": flags,
                                "max_idx_seen": np.maximum(idxs, max_idx),
                                "n_seen": n_seen + np.arange(1, n + 1),
                            }
                        )
                    )
                    contig = int(idxs[-1])
                    max_idx = max(max_idx, contig)
                    n_seen += n
                    last_ts = max(last_ts, float(ts_s.max()))
                    continue

            # plain-Python lists iterate ~2x faster than pandas Series
            # and hand back native scalars (no numpy boxing in the loop)
            idx_list = pdf["turn_idx"].tolist()
            ts_arr = _ts_seconds(pdf["ts"])
            ts_list = ts_arr.tolist()  # native floats; nan = NULL
            roles_norm = (
                [norm_role(r) for r in pdf["role"].tolist()]
                if allowed is not None
                else [None] * len(pdf)
            )

            n_rows = len(idx_list)
            i = 0
            no_bulk_until = 0  # rows below this were already scanned
            # and found too short / colliding: row-loop them without
            # re-scanning (keeps the bulk attempt O(1) amortized/row)
            while i < n_rows:
                turn_idx = idx_list[i]

                # ---- bulk pending-run insert (vectorized) ------------
                # A maximal strictly-consecutive index run that starts
                # above contig+1 with its predecessor absent, collides
                # with no pending index (its own successor included),
                # and fits under MAX_PENDING goes to the pending set as
                # ONE block: flags judged vectorized (OOO via cummax,
                # pairwise transition/latency), one dict/heap bulk
                # insert, emissions reproduced exactly (order, flags,
                # n_seen, max_idx_seen — see the differential pin in
                # tests/test_streaming_bulk.py). Under these guards the
                # row loop would set _GAP on the first element only,
                # never advance the prefix, never heal, never evict.
                if (
                    i >= no_bulk_until
                    and turn_idx is not None
                    and turn_idx == turn_idx
                    and (room := MAX_PENDING - len(pending)) >= _MIN_BULK_RUN
                    and (idx0 := int(turn_idx)) > contig + 1
                    and idx0 not in pending
                    and (idx0 - 1) not in pending
                ):
                    j = i + 1
                    lim = min(n_rows, i + room)  # never scan past what fits
                    expect = idx0 + 1
                    while j < lim:
                        nv = idx_list[j]
                        if nv is None or nv != nv or int(nv) != expect:
                            break
                        expect += 1
                        j += 1
                    take = j - i
                    if take < _MIN_BULK_RUN or any(
                        k in pending for k in range(idx0 + 1, idx0 + take + 1)
                    ):
                        no_bulk_until = j  # scanned once; row-loop the run
                    else:
                        run = list(range(idx0, idx0 + take))
                        ts_run = ts_arr[i : i + take]
                        valid = ~np.isnan(ts_run)
                        eff = np.where(valid, ts_run, float("-inf"))
                        # ts watermark BEFORE each row (NULL ts rows use
                        # the watermark itself: never OOO, never raise it)
                        wm = np.maximum.accumulate(
                            np.concatenate(([last_ts], eff))
                        )[:-1]
                        fl_arr = np.where(
                            valid & (ts_run < wm), _OOO, 0
                        ).astype("int64")
                        fl_arr[0] |= _GAP  # predecessor absent everywhere
                        ts_real_run = [
                            None if v != v else v for v in ts_run.tolist()
                        ]
                        if allowed is not None:
                            rr = roles_norm[i : i + take]
                            for k in range(1, take):
                                if not pair_ok(rr[k - 1], rr[k]):
                                    fl_arr[k] |= _TRN
                            pend_role.update(zip(run, rr))
                        if check_lat:
                            for k in range(1, take):
                                if lat_bad(ts_real_run[k - 1], ts_real_run[k]):
                                    fl_arr[k] |= _LAT
                            pend_ts.update(zip(run, ts_real_run))
                        fl_list = fl_arr.tolist()
                        pending.update(zip(run, fl_list))
                        pend_heap.extend(run)
                        # a block append can violate the heap invariant
                        # when older pending indexes exceed the run's
                        heapq.heapify(pend_heap)
                        mx_list = (
                            np.maximum(np.array(run), max_idx).tolist()
                        )
                        out_rows.extend(
                            zip(
                                [conv_id] * take,
                                run,
                                fl_list,
                                mx_list,
                                range(n_seen + 1, n_seen + take + 1),
                            )
                        )
                        n_seen += take
                        max_idx = max(max_idx, run[-1])
                        hi_ts = float(eff.max())
                        if hi_ts > last_ts:
                            last_ts = hi_ts
                        i += take
                        continue

                # ---- plain row loop ----------------------------------
                # dirty rows must not kill the query: a NULL turn_idx arrives
                # as NaN (Arrow nullable int -> pandas float) and cannot be
                # sequenced — skip it (NotNull in the batch suite owns it);
                # a NULL/NaT ts keeps index sequencing but neither flags OOO
                # nor advances the ts watermark.
                if turn_idx is None or turn_idx != turn_idx:
                    i += 1
                    continue
                idx = int(turn_idx)
                ts = ts_list[i]
                if ts != ts:  # nan = NULL (see _ts_seconds)
                    ts_s = last_ts
                    ts_real = None  # latency needs the REAL ts, not the
                    # OOO watermark substitute: NULL ts = no evidence
                else:
                    ts_s = ts
                    ts_real = ts
                flags = 0
                if ts_s < last_ts:
                    flags |= _OOO
                if idx <= contig or idx in pending:
                    flags |= _DUP  # genuinely seen before: replay
                else:
                    if idx > contig + 1 and (idx - 1) not in pending:
                        flags |= _GAP  # immediate predecessor missing so far
                    r_cur = roles_norm[i]
                    # own transition the moment the predecessor's role is
                    # known — including a predecessor that is itself still
                    # PENDING (prefix not reached): both roles exist now
                    if allowed is not None and (idx - 1) in pend_role:
                        if not pair_ok(pend_role[idx - 1], r_cur):
                            flags |= _TRN
                    # own latency the moment the predecessor's ts is
                    # known — including a predecessor still PENDING
                    if check_lat and (idx - 1) in pending:
                        if lat_bad(pend_ts.get(idx - 1), ts_real):
                            flags |= _LAT
                    # this arrival is the missing predecessor of a pending
                    # turn: heal its gap bit AND judge its transition and
                    # latency — ONE re-emission carrying the merged verdict
                    nxt = pending.get(idx + 1)
                    if nxt is not None:
                        new_fl = nxt & ~_GAP
                        if allowed is not None and not pair_ok(
                            r_cur, pend_role.get(idx + 1)
                        ):
                            new_fl |= _TRN
                        if check_lat and lat_bad(ts_real, pend_ts.get(idx + 1)):
                            new_fl |= _LAT
                        if new_fl != nxt:
                            pending[idx + 1] = new_fl
                            out_rows.append(
                                (conv_id, idx + 1, new_fl, max(max_idx, idx), n_seen + 1)
                            )
                    pending[idx] = flags
                    heapq.heappush(pend_heap, idx)
                    if allowed is not None:
                        pend_role[idx] = r_cur
                    if check_lat:
                        pend_ts[idx] = ts_real

                    flags = _advance(idx, flags)
                    if len(pending) > MAX_PENDING:
                        # WATERMARK eviction: evict the lowest pending index
                        # and advance the prefix past it — "everything at or
                        # below the watermark is assumed seen". Evicting the
                        # highest would evict the just-inserted index on an
                        # in-order stream (every new turn misflagged); plain
                        # evict-lowest would strand a hole the prefix can
                        # never cross. With the watermark, a mid-conversation
                        # attach drains pending after the first eviction, and
                        # replays below the window flag as duplicates (the
                        # conservative degradation) instead of gaps.
                        while pend_heap[0] not in pending:
                            heapq.heappop(pend_heap)  # stale: prefix took it
                        evicted = heapq.heappop(pend_heap)
                        pending.pop(evicted)
                        contig = max(contig, evicted)
                        if allowed is not None:
                            # the evicted turn's own predecessor never
                            # arrived -> its transition is exempt, but ITS
                            # role seeds the chain for what follows.
                            # Known-ness = "did we observe the row", NOT
                            # value-is-not-None: an observed NULL role is
                            # known and must break the next pair
                            last_role_known = evicted in pend_role
                            last_role = pend_role.pop(evicted, None)
                        if check_lat:
                            # same seeding for latency: the evicted turn
                            # is exempt (predecessor never arrived) but
                            # its recorded ts anchors the next pair
                            prev_turn_ts = pend_ts.pop(evicted, None)
                        flags = _advance(idx, flags)
                if idx > max_idx:
                    max_idx = idx
                if ts_s > last_ts:
                    last_ts = ts_s
                n_seen += 1
                out_rows.append((conv_id, idx, flags, max_idx, n_seen))
                i += 1

        order = sorted(pending)
        packed = [
            contig,
            max_idx,
            n_seen,
            last_ts,
            order,
            [pending[i] for i in order],
        ]
        if allowed is not None:
            packed += [
                [pend_role.get(i) for i in order],
                last_role,
                bool(last_role_known),
            ]
        if check_lat:
            packed += [[pend_ts.get(i) for i in order], prev_turn_ts]
        state.update(tuple(packed))
        state.setTimeoutDuration(24 * 3600 * 1000)  # evict idle conversations
        if out_rows:
            # columnar build: constructing from a list of tuples routes
            # through pandas' object-array converter (~3x slower)
            o_conv, o_idx, o_fl, o_mx, o_ns = zip(*out_rows)
            out_frames.append(
                pd.DataFrame(
                    {
                        cols[0]: o_conv,
                        cols[1]: o_idx,
                        cols[2]: o_fl,
                        cols[3]: o_mx,
                        cols[4]: o_ns,
                    }
                )
            )
        if out_frames:
            yield pd.concat(out_frames, ignore_index=True) if len(out_frames) > 1 else out_frames[0]
        else:
            yield pd.DataFrame(columns=cols)

    return validate


# the default kernel — behavior identical to the pre-factory version
validate_conversation = make_validator()


def streaming_sequence_verdicts(stream, allowed_transitions=None, latency_bounds=None):
    """Wire the kernel onto a transcript-shaped stream. With
    ``allowed_transitions`` the stream must carry ``role`` and verdicts
    include InvalidTransition along the contiguous prefix; with
    ``latency_bounds=(min_s, max_s)`` they include InvalidLatency under
    the same predecessor-known contract.

    The state times out on processing time (idle conversations are
    evicted), so Spark schedules a no-data micro-batch after every batch
    and a query started with ``trigger(availableNow=True)`` never
    terminates on its own: ``awaitTermination()`` without a timeout and
    ``processAllAvailable()`` both block forever. Wait until
    ``recentProgress`` shows the input's batch, then ``stop()`` it."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    with_roles = allowed_transitions is not None
    with_lat = latency_bounds is not None
    cols = ["conv_id", "turn_idx", "ts"] + (["role"] if with_roles else [])
    if with_roles:
        schema = STATE_SCHEMA_TL if with_lat else STATE_SCHEMA_T
    else:
        schema = STATE_SCHEMA_L if with_lat else STATE_SCHEMA
    return (
        stream.select(*cols)
        .groupBy("conv_id")
        .applyInPandasWithState(
            make_validator(allowed_transitions, latency_bounds)
            if (with_roles or with_lat)
            else validate_conversation,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=schema,
            # "update", not "append": append-mode flatMapGroupsWithState
            # requires event-time watermark plumbing this operator does
            # not carry; with append the Python worker hard-crashes
            # (verified on PySpark 4.1.2). Update mode emits each turn's
            # verdict once per arrival (plus healed-gap re-emissions),
            # which is the desired semantics.
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
