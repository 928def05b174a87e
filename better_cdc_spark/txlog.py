"""Transactional commit log for parquet tables — ACID sink without a
table-format dependency.

The round-4 audit noted the one engine-grade gap in the sink story:
idempotency and MERGE are correct but hand-rolled on raw parquet
directories, with a documented (bounded) delete-then-write window
(streaming/pipeline.py). This module closes it with the minimal
log-structured design the real table formats (Delta, Iceberg) share:

- A table is `data/` (immutable parquet files, never mutated or
  overwritten) plus `_txlog/` (numbered JSON commit files).
- A commit is ONE atomically-created file `_txlog/{version:020d}.json`
  holding the version's actions: `add` / `remove` data files and
  optional `txn` writer tokens. Readers replay the log; a data file
  not reachable from the log DOES NOT EXIST, so a crash between data
  write and commit leaves garbage, never a torn table.
- Atomicity primitive: create-if-absent (`open(..., 'x')`). On a local
  or HDFS-like FS that is atomic; on S3-era object stores it maps to
  put-if-absent / a commit service — the same seam Delta uses. Losers
  of a version race get FileExistsError and RETRY with optimistic
  conflict validation: appends always merge; a replace commit aborts
  if a file it removes was already removed by a concurrent winner.
- Writer idempotence: a commit may carry `txn: {app_id, version}`; a
  replayed commit whose (app_id, version) token is already in the log
  is acknowledged as a no-op. This is exactly the foreachBatch replay
  contract — epoch id as txn version makes any sink effectively-once
  with NO delete-then-write window at all.
- Time travel: snapshot(version=v) replays the log prefix ≤ v.

Scale notes (100 TB): the log is bounded by commit count, not data
size — actions are file-level. Snapshot resolution is a driver-side
read of small JSON files (real formats add checkpoints; `compact_log`
here is that move). Data reads are ordinary parquet scans — pushdown,
pruning, and distributed IO are untouched because the log only decides
WHICH files participate. No reference analog (the reference sinks to
NATS); cited gap: streaming/pipeline.py delete-then-write note.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from better_cdc_spark.session import ckpt, conf_override


class CommitConflict(RuntimeError):
    """A concurrent commit invalidated this transaction (removed file
    already gone); the caller must re-derive and retry."""


@dataclass(frozen=True)
class Snapshot:
    version: int
    files: tuple[str, ...]
    txns: dict[str, int]
    #: per-file column min/max from the add actions ({} when the table
    #: tracks no stats columns) — the file-skipping index
    file_stats: dict = None


class TxLogTable:
    def __init__(
        self, spark: SparkSession, path: str, stats_cols: tuple[str, ...] = ()
    ) -> None:
        self.spark = spark
        self.path = path
        #: columns whose per-file min/max ride in add actions for
        #: data skipping (footer-derived, no data read at commit time)
        self.stats_cols = tuple(stats_cols)
        self.log_dir = os.path.join(path, "_txlog")
        self.data_dir = os.path.join(path, "data")
        os.makedirs(self.log_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- log primitives --------------------------------------------------

    def _versions(self) -> list[int]:
        return sorted(
            int(f[: -len(".json")])
            for f in os.listdir(self.log_dir)
            if f.endswith(".json")
        )

    def snapshot(self, version: int | None = None) -> Snapshot:
        """Replay the log (prefix ≤ version for time travel). A version
        whose first action is the checkpoint marker RESETS accumulated
        state before applying — so stale pre-checkpoint version files
        (e.g. left by a crash mid-compact_log) are harmlessly ignored.

        A concurrent `compact_log` may delete a version file between our
        listing and our open; the checkpoint reset marker makes a fresh
        re-read consistent, so tolerate FileNotFoundError by re-listing.
        Bounded retries: a handful outlasts any compact race; a missing
        LOG DIRECTORY (table deleted) is a real error, re-raised at once."""
        last_exc: FileNotFoundError | None = None
        for _ in range(8):
            try:
                return self._snapshot_once(version)
            except FileNotFoundError as exc:
                if exc.filename == self.log_dir:
                    raise  # the table itself is gone, not a compact race
                last_exc = exc
                continue  # compact_log won a race; re-list and replay
        raise last_exc

    def _snapshot_once(self, version: int | None = None) -> Snapshot:
        live: dict[str, dict] = {}
        txns: dict[str, int] = {}
        vs = self._versions()
        if version is not None:
            vs = [v for v in vs if v <= version]
        for v in vs:
            with open(os.path.join(self.log_dir, f"{v:020d}.json")) as f:
                for i, line in enumerate(f):
                    action = json.loads(line)
                    if i == 0 and action.get("meta", {}).get("checkpoint"):
                        live.clear()
                        txns.clear()
                        continue
                    if "add" in action:
                        live[action["add"]["path"]] = action["add"].get("stats", {})
                    elif "remove" in action:
                        live.pop(action["remove"]["path"], None)
                    elif "txn" in action:
                        t = action["txn"]
                        txns[t["app_id"]] = max(
                            txns.get(t["app_id"], -1), int(t["version"])
                        )
        return Snapshot(
            version=vs[-1] if vs else -1,
            files=tuple(p for p in live),
            txns=txns,
            file_stats=live,
        )

    def _try_commit(self, version: int, actions: list[dict]) -> bool:
        target = os.path.join(self.log_dir, f"{version:020d}.json")
        try:
            with open(target, "x") as f:  # atomic create-if-absent
                for a in actions:
                    f.write(json.dumps(a) + "\n")
            return True
        except FileExistsError:
            return False

    # -- data-file staging ----------------------------------------------

    def _stage(self, df: DataFrame) -> list[str]:
        """Write df as new immutable data files; returns their paths.
        Invisible until a commit references them (crash ⇒ garbage, not
        corruption); `vacuum` collects orphans."""
        stage_id = uuid.uuid4().hex
        out = os.path.join(self.data_dir, stage_id)
        # Spark's default INT96 timestamps carry NO parquet footer stats
        # (pyarrow returns None) — write INT64 micros while staging so
        # timestamp stats_cols actually skip files. Session-conf
        # save/restore; decimals remain stats-less (pyarrow cannot
        # extract decimal stats) and are kept conservatively.
        with conf_override(
            self.spark, "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        ):
            df.write.parquet(out)
        return [
            os.path.join(out, f)
            for f in os.listdir(out)
            if f.endswith(".parquet")
        ]

    @staticmethod
    def _file_stats(path: str, cols: tuple[str, ...]) -> dict:
        """Per-file min/max for `cols` from the parquet FOOTER (pyarrow
        metadata — no data read). These ride in the add action, so a
        snapshot can skip files before any scan: planning IO becomes
        O(matching files), the data-skipping move real table formats
        make and the reason their logs carry stats."""
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        stats: dict = {}
        for c in cols:
            if c not in idx:
                continue
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                try:  # pyarrow can't extract stats for every physical type
                    s = md.row_group(rg).column(idx[c]).statistics
                    if s is None or not s.has_min_max:
                        break
                    mn, mx = s.min, s.max
                except Exception:
                    break  # no stats for this column: kept conservatively
                mins.append(mn)
                maxs.append(mx)
            else:
                if mins:
                    stats[c] = [
                        TxLogTable._stat_to_json(min(mins)),
                        TxLogTable._stat_to_json(max(maxs)),
                    ]
        return stats

    # Footer min/max for timestamp/date/binary/decimal columns are
    # datetime/bytes/Decimal objects — json.dumps would crash the commit.
    # Serialize through a tagged converter; read()'s skip predicate
    # decodes back to comparable native values.
    @staticmethod
    def _stat_to_json(v):
        import datetime
        import decimal

        if isinstance(v, bytes):
            return {"$bin": v.hex()}
        if isinstance(v, datetime.datetime):
            return {"$ts": v.isoformat()}
        if isinstance(v, datetime.date):
            return {"$date": v.isoformat()}
        if isinstance(v, decimal.Decimal):
            return {"$dec": str(v)}
        return v  # int / float / str / bool / None pass through

    @staticmethod
    def _stat_from_json(v):
        import datetime
        import decimal

        if isinstance(v, dict):
            if "$bin" in v:
                return bytes.fromhex(v["$bin"])
            if "$ts" in v:
                ts = datetime.datetime.fromisoformat(v["$ts"])
                if ts.tzinfo is not None:
                    # footer stats of UTC-adjusted int64 timestamps come
                    # back aware; where-bounds are naive UTC — normalize
                    ts = ts.astimezone(datetime.timezone.utc).replace(tzinfo=None)
                return ts
            if "$date" in v:
                return datetime.date.fromisoformat(v["$date"])
            if "$dec" in v:
                return decimal.Decimal(v["$dec"])
        return v

    # -- public ops ------------------------------------------------------

    def append(
        self, df: DataFrame, app_id: str | None = None, txn_version: int | None = None
    ) -> int:
        """ACID append. With (app_id, txn_version), replays are no-ops —
        the foreachBatch effectively-once contract."""
        staged: list[str] | None = None
        for attempt in range(self.MAX_COMMIT_ATTEMPTS):
            snap = self.snapshot()
            if app_id is not None and snap.txns.get(app_id, -1) >= (txn_version or 0):
                return snap.version  # replayed commit: acknowledged no-op
            if staged is None:
                staged = self._stage(df)
            actions = [{"add": self._add_action(p)} for p in staged]
            if app_id is not None:
                actions.append({"txn": {"app_id": app_id, "version": txn_version or 0}})
            v = snap.version + 1
            if self._try_commit(v, actions):
                return v
            # lost the race — appends never conflict semantically; retry
            # with jittered backoff so N contending writers interleave
            # instead of livelocking in version-race lockstep
            self._backoff(attempt)
        raise CommitConflict(
            f"append lost {self.MAX_COMMIT_ATTEMPTS} consecutive version races"
        )

    def replace(
        self,
        df: DataFrame,
        remove_pred,
        app_id: str | None = None,
        txn_version: int | None = None,
        data_change: bool = True,
        basis: "Snapshot | None" = None,
    ) -> int:
        """Atomic delete+write: remove every live file whose ROWS ALL
        match nothing the new state needs (caller passes a predicate on
        file paths chosen at planning time) and add the new files in the
        SAME commit — the operation the windowed idempotent sink
        performs, with no observable intermediate state.

        remove_pred: Callable[[str], bool] over live file paths. The
        remove set is fixed at the BASIS snapshot (the state `df` was
        derived from); a retry after losing a version race validates
        against the newer snapshot and aborts with CommitConflict when
        (a) a basis file this transaction removes is no longer live
        (concurrent remove of the same region), or (b) a concurrent
        commit added NEW files the predicate matches — removing those
        would silently destroy rows `df` never saw (the add-vs-rewrite
        conflict real formats detect). The caller re-derives and
        retries.

        basis: the snapshot `df` was DERIVED from. Callers that read and
        materialize before calling replace (optimize's localCheckpoint
        can take minutes on a big table) MUST pass the snapshot they
        read — defaulting to self.snapshot() here would slide the basis
        forward past any commit that landed during materialization,
        making check (b) vacuously pass and silently deleting that
        commit's rows."""
        if basis is None:
            basis = self.snapshot()
        if app_id is not None and basis.txns.get(app_id, -1) >= (txn_version or 0):
            return basis.version  # replayed commit: no-op, nothing staged
        removes = [p for p in basis.files if remove_pred(p)]
        staged: list[str] | None = None
        for attempt in range(self.MAX_COMMIT_ATTEMPTS):
            snap = self.snapshot()
            if app_id is not None and snap.txns.get(app_id, -1) >= (txn_version or 0):
                return snap.version
            if any(p not in snap.files for p in removes):
                raise CommitConflict(
                    "concurrent commit removed files this replace targets"
                )
            newly_matching = [
                p for p in snap.files if p not in basis.files and remove_pred(p)
            ]
            if newly_matching:
                raise CommitConflict(
                    "concurrent commit added files this rewrite would drop"
                )
            if staged is None:
                staged = self._stage(df)
            actions = (
                [{"remove": {"path": p}} for p in removes]
                + [{"add": self._add_action(p)} for p in staged]
            )
            if not data_change:
                # Delta's dataChange=false: a pure reorganization (e.g.
                # OPTIMIZE) — same logical rows before and after, so the
                # change feed must skip this commit entirely.
                for a in actions:
                    a["dataChange"] = False
            if app_id is not None:
                actions.append({"txn": {"app_id": app_id, "version": txn_version or 0}})
            v = snap.version + 1
            if self._try_commit(v, actions):
                return v
            self._backoff(attempt)
        raise CommitConflict(
            f"replace lost {self.MAX_COMMIT_ATTEMPTS} consecutive version races"
        )

    #: CAS-retry cap. Generous: each lost race means ANOTHER writer
    #: committed, so 64 losses ⇒ 64 successful commits elsewhere — a
    #: contention level no single-table workload reaches; hitting the cap
    #: signals a stuck/looping writer, which deserves an error, not a
    #: silent livelock.
    MAX_COMMIT_ATTEMPTS = 64

    @staticmethod
    def _backoff(attempt: int) -> None:
        """Exponential backoff with full jitter (capped ~100 ms) between
        optimistic-commit retries; attempt 0 retries immediately since a
        single lost race is the common benign case."""
        if attempt == 0:
            return
        import random
        import time as _time

        _time.sleep(random.uniform(0, min(0.1, 0.001 * (2 ** min(attempt, 7)))))

    def _add_action(self, path: str) -> dict:
        a = {"path": path}
        if self.stats_cols:
            a["stats"] = self._file_stats(path, self.stats_cols)
        return a

    def read(
        self,
        version: int | None = None,
        where: tuple[str, object, object] | None = None,
    ) -> DataFrame:
        """Snapshot read (optionally time travel). Ordinary parquet scan
        over the snapshot's file list — pushdown/pruning intact.
        mergeSchema unions file schemas, so an append that ADDED columns
        evolves the table in place: old files surface the new columns as
        nulls (parquet's schema-merge semantics — the additive half of
        schema evolution; renames/drops need a rewrite commit).

        `where=(col, lo, hi)` enables DATA SKIPPING: files whose logged
        [min, max] for col does not intersect [lo, hi] are dropped from
        the scan BEFORE Spark plans it — log-resident stats, no file
        listing, no footer reads at query time. Files without stats for
        the column are kept (conservative). The equivalent row filter is
        also applied so results are exact."""
        snap = self.snapshot(version)
        if not snap.files:
            raise ValueError(f"table {self.path} is empty at version {version}")
        files = list(snap.files)
        if where is not None:
            col, lo, hi = where
            kept = []
            for p in files:
                s = (snap.file_stats or {}).get(p, {}).get(col)
                if s is not None:
                    s = [self._stat_from_json(s[0]), self._stat_from_json(s[1])]
                if s is None or not (s[1] < lo or s[0] > hi):
                    kept.append(p)
            files = kept
            if not files:
                return (
                    self.spark.read.option("mergeSchema", "true")
                    .parquet(*snap.files)
                    .limit(0)
                )
        df = self.spark.read.option("mergeSchema", "true").parquet(*files)
        if where is not None:
            from pyspark.sql import functions as F

            df = df.filter(F.col(where[0]).between(where[1], where[2]))
        return df

    def change_feed(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Row-level change feed for versions in (v_from, v_to] — the
        Delta CDF / table_changes() move: every add-file in a
        data-changing commit yields its rows as inserts, every
        remove-file yields its rows (still on disk: vacuum spares
        files referenced by ANY version) as deletes, each stamped with
        the commit version. An update rewritten through replace()
        appears as delete+insert — the contract CDF consumers (qm11's
        sync, downstream replication) are built on. Commits whose
        actions carry dataChange=false (optimize/compaction) are pure
        reorganizations and are SKIPPED — their files move, their rows
        don't.

        Plan shape: the log tail walk is O(commits in range)
        driver-side (same bound as snapshot resolution), and the DATA
        plan is ONE parquet scan over every referenced file joined to a
        broadcast (file → version, kind) dim via `_metadata` — a file
        both added and removed inside the range fans out to both its
        incarnations in the join. The first cut built one DataFrame per
        version and union-chained them: planning alone was 117 s at
        1000 commits; this form plans in constant DataFrame count
        (probe in PLANS.md). Emits (row columns..., _change_type,
        _commit_version).
        """
        from pyspark.sql import functions as F

        if v_to is None:
            v_to = self.snapshot().version
        entries: list[tuple[str, str, int, str]] = []  # (path, rel, v, kind)

        def rel(p: str) -> str:
            return "/".join(p.rsplit("/", 2)[-2:])  # stage_id/part-file

        for v in self._versions():
            if not (v_from < v <= v_to):
                continue
            with open(os.path.join(self.log_dir, f"{v:020d}.json")) as f:
                for i, line in enumerate(f):
                    action = json.loads(line)
                    if i == 0 and action.get("meta", {}).get("checkpoint"):
                        raise ValueError(
                            f"change feed from v{v_from} crosses the "
                            f"compacted-log horizon at v{v} — per-commit "
                            "changes before a checkpoint are forfeited "
                            "(the compact_log trade)"
                        )
                    if action.get("dataChange") is False:
                        continue
                    if "add" in action:
                        p = action["add"]["path"]
                        entries.append((p, rel(p), v, "insert"))
                    elif "remove" in action:
                        p = action["remove"]["path"]
                        entries.append((p, rel(p), v, "delete"))
        if not entries:
            raise ValueError(f"no data-changing commits in ({v_from}, {v_to}]")
        dim = self.spark.createDataFrame(
            [(r, v, k) for _, r, v, k in entries],
            "_bcs_rel string, _commit_version long, _change_type string",
        )
        paths = sorted({p for p, _, _, _ in entries})
        scan = self.spark.read.parquet(*paths).withColumn(
            "_bcs_rel",
            F.concat(
                F.element_at(F.split(F.col("_metadata.file_path"), "/"), -2),
                F.lit("/"),
                F.col("_metadata.file_name"),
            ),
        )
        return (
            scan.join(F.broadcast(dim), "_bcs_rel")
            .drop("_bcs_rel")
            .select(
                *[c for c in scan.columns if c != "_bcs_rel"],
                "_change_type",
                "_commit_version",
            )
        )

    def optimize(self, target_files: int = 1) -> int:
        """Transactional compaction (the OPTIMIZE move): rewrite the
        current snapshot's files into `target_files` larger ones and
        swap them in ONE commit (remove all + add compacted). Readers
        never see a torn state; time travel to pre-optimize versions
        still resolves because vacuum only collects files unreachable
        from EVERY log version. Returns the new version.

        The basis is PINNED to the snapshot actually read: a commit that
        lands while localCheckpoint materializes the table (minutes on a
        big table) must surface as CommitConflict, not vanish in the
        remove-everything commit."""
        snap = self.snapshot()
        current = self.read(version=snap.version).coalesce(target_files)
        return self.replace(
            current.transform(ckpt),
            remove_pred=lambda p: True,
            data_change=False,
            basis=snap,
        )

    def vacuum(self, min_age_s: float = 3600.0) -> int:
        """Delete data files unreachable from ANY log version (crash
        garbage). Returns the number removed. `min_age_s` is the safety
        horizon: a file younger than it is spared because it may belong
        to an IN-FLIGHT commit (staged, log entry not yet written) —
        deleting it would let that commit succeed while referencing a
        missing file. Same reason real formats gate VACUUM on retention.
        Tests pass 0 to collect immediately."""
        import time as _t

        # tolerate a concurrent compact_log deleting a listed version
        # file mid-scan (same contract as snapshot(): bounded re-list +
        # retry; a missing log DIRECTORY is a real error, re-raised)
        for attempt in range(8):
            referenced: set[str] = set()
            try:
                for v in self._versions():
                    with open(os.path.join(self.log_dir, f"{v:020d}.json")) as f:
                        for line in f:
                            action = json.loads(line)
                            if "add" in action:
                                referenced.add(action["add"]["path"])
                break
            except FileNotFoundError as exc:
                if exc.filename == self.log_dir or attempt == 7:
                    raise
                continue
        n = 0
        horizon = _t.time() - min_age_s
        for stage in os.listdir(self.data_dir):
            sdir = os.path.join(self.data_dir, stage)
            for f in os.listdir(sdir):
                p = os.path.join(sdir, f)
                if (
                    f.endswith(".parquet")
                    and p not in referenced
                    and os.path.getmtime(p) <= horizon
                ):
                    os.remove(p)
                    n += 1
        return n

    def compact_log(self) -> None:
        """Rewrite the log prefix as one checkpoint commit (the Delta
        checkpoint move): the latest version file becomes a
        self-contained snapshot (marker + adds + txns), installed with
        ONE atomic os.replace BEFORE any old version is deleted — a
        crash at any point leaves either the original log or the
        checkpoint plus stale older files, which snapshot() ignores via
        the reset marker. Never a torn table. Time travel before the
        checkpoint is forfeited — same trade the real formats make at
        their retention horizon."""
        snap = self.snapshot()
        if snap.version < 0:
            return
        actions = (
            [{"meta": {"checkpoint": True}}]
            + [
                {"add": {"path": p, "stats": snap.file_stats.get(p, {})}}
                for p in snap.files
            ]
            + [{"txn": {"app_id": a, "version": v}} for a, v in snap.txns.items()]
        )
        tmp = os.path.join(self.log_dir, f".ckpt-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")
        # install first (atomic), THEN clean up superseded versions
        os.replace(tmp, os.path.join(self.log_dir, f"{snap.version:020d}.json"))
        for v in self._versions():
            if v < snap.version:
                os.remove(os.path.join(self.log_dir, f"{v:020d}.json"))
