"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed: the same seed gives
byte-identical changelog segments and parquet tables. The CDC generators
emit wal2json-v2 change-log rows (the engine's ``CHANGE_LOG_SCHEMA``) as
JSON lines in the reference load mix: 60/30/10 INSERT/UPDATE/DELETE,
about two thirds ``public.orders`` and one third ``public.accounts``.
Commit timestamps rise in commit order.

Segments are admitted to a source directory in stream order: each file
is written under a staging name, given a modification time strictly
greater than the previous segment's, and renamed into place, so the file
source never lets a commit overtake its data.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

#: commit-clock origin (2023-11-14T22:13:20Z); every commit timestamp is
#: T_BASE plus a seed-independent offset, so segments stay byte-identical
T_BASE = 1_700_000_000.0
TABLES = ("orders", "orders", "accounts")  # ~2/3 orders, ~1/3 accounts
LSN_BASE = 1 << 24
#: Spark's file source sees modification times at millisecond resolution
MTIME_STEP_S = 0.002


def _ts(t: float) -> str:
    return dt.datetime.fromtimestamp(t, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%f"
    )[:-3] + "Z"


def _entry(name: str, typ: str, value: str) -> dict:
    return {"name": name, "type": typ, "value": value}


class Log:
    """An ordered change-log: assigns ingest_seq / lsn as rows are added."""

    def __init__(self, rng: random.Random) -> None:
        self.rng = rng
        self.rows: list[dict] = []
        self.next_key = {"orders": 1, "accounts": 1}

    def _add(self, action, xid, ts=None, table=None, columns=None, identity=None):
        seq = len(self.rows)
        row = {
            "ingest_seq": seq,
            "lsn": "0/%X" % (LSN_BASE + 64 * seq),
            "action": action,
            "xid": xid,
            "timestamp": None if ts is None else _ts(ts),
            "schema": None if table is None else "public",
            "table": table,
            "columns": columns,
            "identity": identity,
        }
        self.rows.append(row)
        return row

    def begin(self, xid: int, ts: float) -> dict:
        return self._add("B", xid, ts)

    def commit(self, xid: int, ts: float) -> dict:
        return self._add("C", xid, ts)

    def op(self, xid: int) -> dict:
        """One data op in the reference mix."""
        rng = self.rng
        table = rng.choice(TABLES)
        r = rng.random()
        action = "I" if r < 0.6 else ("U" if r < 0.9 else "D")
        if action == "I":
            key = self.next_key[table]
            self.next_key[table] += 1
        else:
            key = rng.randrange(1, self.next_key[table] + 1)
        new = None
        if action in ("I", "U"):
            status = rng.choice(("new", "paid", "shipped", "closed"))
            if table == "orders":
                new = [
                    _entry("id", "bigint", str(key)),
                    _entry("account_id", "bigint", str(rng.randrange(1, 5000))),
                    _entry("total_cents", "integer", str(rng.randrange(100, 10**6))),
                    _entry("status", "text", status),
                ]
            else:
                new = [
                    _entry("id", "bigint", str(key)),
                    _entry("email", "text", f"user{key}@example.com"),
                    _entry("status", "text", status),
                ]
        ident = [_entry("id", "bigint", str(key))] if action in ("U", "D") else None
        return self._add(action, xid, table=table, columns=new, identity=ident)


def dumps(rows: list[dict]) -> bytes:
    return "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in rows).encode()


# -- cdc_drain: short autocommit transactions, whole txs per segment ------


def drain_segments(seed: int, n_segments: int, ops_per_segment: int) -> list[list[dict]]:
    """Backlog of short transactions (1-4 ops, commit right after its data).

    Segments end on transaction boundaries, so every admitted prefix of
    the backlog leaves no transaction open.
    """
    log = Log(random.Random(seed))
    segments, xid, t = [], 1000, T_BASE
    for _ in range(n_segments):
        start, n_ops = len(log.rows), 0
        while n_ops < ops_per_segment:
            k = min(log.rng.randint(1, 4), ops_per_segment - n_ops)
            t += 0.001
            log.begin(xid, t)
            for _ in range(k):
                log.op(xid)
            log.commit(xid, t)
            xid += 1
            n_ops += k
        segments.append(log.rows[start:])
    return segments


# -- cdc_replay: long interleaved transactions with redeliveries ----------


def replay_segments(
    seed: int,
    n_segments: int,
    rows_per_segment: int,
    open_txs: int,
    tx_ops: int,
    reconnect_every: int,
) -> tuple[list[list[dict]], list[dict], list[int]]:
    """Backlog of long interleaved transactions plus slot-restart replays.

    Up to ``open_txs`` transactions of ~``tx_ops`` ops are open at once and
    their ops interleave, so each spans several segments. Every
    ``reconnect_every`` segments the stream re-emits from the begin of its
    oldest open transaction, as Postgres does from a slot's restart point:
    every transaction still open, from its begin, in original order.
    Transactions whose commit was already delivered count as confirmed
    and are skipped, as Postgres skips commits at or below the slot's
    confirmed position. So no commit ever precedes a copy of its own data,
    which is the pipeline's ordered-delivery contract.

    Returns (segments as delivered, the log without redeliveries, index of
    each segment that starts a redelivery).
    """
    log = Log(random.Random(seed))
    rng = log.rng
    open_: dict[int, int] = {}  # xid -> ops left
    begins: dict[int, int] = {}  # xid -> ingest_seq of its begin
    next_xid, t = 5000, T_BASE
    delivered: list[list[dict]] = []
    replay_starts: list[int] = []
    emitted = 0  # rows of the original log already cut into segments

    def cut(rows: list[dict]) -> None:
        for i in range(0, len(rows), rows_per_segment):
            delivered.append(rows[i : i + rows_per_segment])

    n_original = 0
    while n_original < n_segments:
        while len(log.rows) - emitted < rows_per_segment:
            while len(open_) < open_txs:
                t += 0.001
                begins[next_xid] = log.begin(next_xid, t)["ingest_seq"]
                open_[next_xid] = max(1, int(rng.gauss(tx_ops, tx_ops / 4)))
                next_xid += 1
            xid = rng.choice(sorted(open_))
            log.op(xid)
            open_[xid] -= 1
            if open_[xid] == 0:
                t += 0.001
                log.commit(xid, t)
                del open_[xid]
        cut(log.rows[emitted : emitted + rows_per_segment])
        emitted += rows_per_segment
        n_original += 1
        if n_original % reconnect_every == 0 and open_ and n_original < n_segments:
            restart = min(begins[x] for x in open_)
            rows = [r for r in log.rows[restart:emitted] if r["xid"] in open_]
            replay_starts.append(len(delivered))
            cut(rows)
    # close what is still open so the backlog drains to an empty pending store
    for xid in sorted(open_):
        t += 0.001
        log.commit(xid, t)
    rest = log.rows[emitted:]
    if rest:
        cut(rest)
    return delivered, log.rows, replay_starts


# -- admission ------------------------------------------------------------


class Admitter:
    """Admits segments into a source dir by atomic rename, in stream order,
    each with a modification time strictly above the previous one's."""

    def __init__(self, source_dir: str, staging_dir: str, first_mtime: float) -> None:
        self.source_dir = source_dir
        self.staging_dir = staging_dir
        self.last_mtime = first_mtime - MTIME_STEP_S
        self.count = 0
        os.makedirs(source_dir, exist_ok=True)
        os.makedirs(staging_dir, exist_ok=True)

    def admit(self, data: bytes) -> str:
        name = "seg-%06d.json" % self.count
        tmp = os.path.join(self.staging_dir, name + ".tmp")
        with open(tmp, "wb") as f:
            f.write(data)
        m = self.last_mtime + MTIME_STEP_S
        os.utime(tmp, (m, m))
        dst = os.path.join(self.source_dir, name)
        os.rename(tmp, dst)
        self.last_mtime = m
        self.count += 1
        return dst


def admit_backlog(segments: list[list[dict]], source_dir: str, staging_dir: str, now: float) -> None:
    """Pre-write a whole backlog with mtimes ending just before ``now``."""
    adm = Admitter(source_dir, staging_dir, now - MTIME_STEP_S * (len(segments) + 1))
    for seg in segments:
        adm.admit(dumps(seg))


# -- query_mix: the registry's tables, seeded ------------------------------

WORDS = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part a merge "
    "window order column join vector"
).split()


def query_tables(seed: int, sf: float, out_dir: str) -> None:
    """Write the ten registry tables at scale ``sf`` as parquet files.

    Schemas and value domains follow the registry's test data (TPC-H-like
    star schema with synthetic names, plus events, documents and
    embeddings), so every mix query has rows to work on.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    us = lambda days: (np.datetime64("1995-01-01") + days).astype("datetime64[us]")  # noqa: E731

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def pick(options, n):
        return np.asarray(options, dtype=object)[rng.integers(0, len(options), n)]

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = n_emb = 300

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = ["small", "red", "blue", "hot", "old", "green", "big"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "valve"]
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(pick(adj, n_part), pick(noun, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": pick(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": us(rng.integers(0, 2404, n_ord)),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": us(rng.integers(1, 2499, n_li)),
    })
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(10, n_ev // 66), n_ev),
        "event_type": pick(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": money(0.01, 490.02, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_docs):
        if i % 10 == 9:  # near-duplicate of an earlier document
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(pick(WORDS, 1)[0])
        else:
            words = list(pick(WORDS, int(rng.integers(8, 100))))
        texts.append(" ".join(words))
    write("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": ["en"] * n_docs,
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.15, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.05, (n_emb, 64))).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
