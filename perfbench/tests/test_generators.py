"""The CDC generators: deterministic, ordered admission, replays restart
at a transaction's begin."""

from __future__ import annotations

import os

import gen

REPLAY_ARGS = dict(n_segments=12, rows_per_segment=200, open_txs=6, tx_ops=240,
                   reconnect_every=4)


def _bytes(segments):
    return [gen.dumps(s) for s in segments]


def test_same_seed_gives_byte_identical_segments():
    assert _bytes(gen.drain_segments(7, 6, 300)) == _bytes(gen.drain_segments(7, 6, 300))
    assert _bytes(gen.replay_segments(7, **REPLAY_ARGS)[0]) == _bytes(
        gen.replay_segments(7, **REPLAY_ARGS)[0]
    )
    assert _bytes(gen.drain_segments(7, 6, 300)) != _bytes(gen.drain_segments(8, 6, 300))


def test_reference_mix():
    rows = [r for s in gen.drain_segments(3, 20, 1000) for r in s if r["action"] in "IUD"]
    n = len(rows)
    share = {a: sum(r["action"] == a for r in rows) / n for a in "IUD"}
    assert abs(share["I"] - 0.6) < 0.02 and abs(share["U"] - 0.3) < 0.02
    orders = sum(r["table"] == "orders" for r in rows) / n
    assert abs(orders - 2 / 3) < 0.02


def _commits_follow_data(segments):
    """Each transaction's only commit lands in the same or a later segment
    than every delivered copy of its data rows."""
    last_data, commit_at = {}, {}
    for i, seg in enumerate(segments):
        for r in seg:
            if r["action"] == "C":
                assert r["xid"] not in commit_at, "a commit is never redelivered"
                commit_at[r["xid"]] = i
            elif r["action"] != "B":
                last_data[r["xid"]] = i
    assert all(commit_at[x] >= i for x, i in last_data.items())


def test_commit_never_overtakes_its_data():
    drain = gen.drain_segments(5, 8, 400)
    _commits_follow_data(drain)
    # drain segments end on transaction boundaries
    for seg in drain:
        assert seg[0]["action"] == "B" and seg[-1]["action"] == "C"
    _commits_follow_data(gen.replay_segments(5, **REPLAY_ARGS)[0])
    rows = [r for s in drain for r in s if r["action"] == "C"]
    assert [r["timestamp"] for r in rows] == sorted(r["timestamp"] for r in rows)


def test_admission_is_atomic_and_strictly_ordered(tmp_path):
    src, staging = tmp_path / "src", tmp_path / "staging"
    adm = gen.Admitter(str(src), str(staging), first_mtime=1_000_000.0)
    segments = gen.drain_segments(1, 5, 50)
    for seg in segments:
        adm.admit(gen.dumps(seg))
    names = sorted(os.listdir(src))
    assert names == [f"seg-{i:06d}.json" for i in range(5)]
    assert os.listdir(staging) == []  # nothing left half-written
    mtimes = [os.stat(src / n).st_mtime for n in names]
    assert all(b - a >= gen.MTIME_STEP_S * 0.99 for a, b in zip(mtimes, mtimes[1:]))
    assert mtimes[0] == 1_000_000.0
    assert (src / names[2]).read_bytes() == gen.dumps(segments[2])


def test_replay_restarts_at_oldest_open_begin():
    delivered, original, starts = gen.replay_segments(9, **REPLAY_ARGS)
    assert starts, "the backlog must contain redeliveries"
    first_seq = {r["ingest_seq"] for r in original}
    by_seq = {r["ingest_seq"]: r for r in original}
    redelivered = 0
    for k in starts:
        head = delivered[k][0]
        assert head["action"] == "B"
        # everything delivered before the restart point
        before = {r["ingest_seq"] for s in delivered[:k] for r in s}
        open_at = {
            r["xid"] for r in original
            if r["ingest_seq"] in before and r["action"] == "B"
        } - {
            r["xid"] for r in original
            if r["ingest_seq"] in before and r["action"] == "C"
        }
        oldest = min(
            r["ingest_seq"] for r in original if r["action"] == "B" and r["xid"] in open_at
        )
        assert head["ingest_seq"] == oldest
    # every redelivered row is a byte-identical copy of an original row,
    # and each redelivered transaction starts again at its begin
    seen, resent_start = set(), {}
    for seg in delivered:
        for r in seg:
            assert r["ingest_seq"] in first_seq and r == by_seq[r["ingest_seq"]]
            if r["ingest_seq"] in seen:
                redelivered += 1
                resent_start.setdefault(r["xid"], r["action"])
            seen.add(r["ingest_seq"])
    assert redelivered > 0
    assert set(resent_start.values()) == {"B"}
    assert seen == first_seq

