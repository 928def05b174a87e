"""In-memory spans around the engine's public calls, for the traced run.

A span has a name, a start, an end, a parent and a group: spans of one
micro-batch (or one query run) share a group. Wrapping a call also sets
the Spark job description to ``<span name>#<group>`` for its duration,
so the event log attributes every job the call launches to its layer.

CDC layers are labelled by what the call touches, not by call order:

- ``session.ckpt`` as imported by ``streaming.pipeline``: the raw batch
  (has ``_corrupt_record``) is ``decode``; a frame with ``event_id`` is
  ``normalize``; the merged change log is ``pending.merge``;
- ``DataFrameReader.parquet`` / ``DataFrameWriter.parquet``: by target
  directory, ``pending``, ``sink`` or ``decode_dlq``;
- ``DataFrame.first``: the sink's bucket-span lookup, ``sink.span``.
"""

from __future__ import annotations

import contextlib
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    name: str
    group: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self.counts: dict[str, int] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current_group(self) -> str | None:
        stack = self._stack()
        return stack[-1].group if stack else None

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        stack = self._stack()
        group = group or (stack[-1].group if stack else "")
        with self._lock:
            sp = Span(len(self.spans), name, group, stack[-1].span_id if stack else None, 0.0)
            self.spans.append(sp)
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"{name}#{group}")
        stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            sc.setJobDescription(prev)

    def count(self, df, key: str) -> None:
        """Row count of an already-materialized frame, as its own span."""
        with self.span("trace.count"):
            n = df.count()
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + n

    # -- wrappers ---------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        original = getattr(owner, attr)
        setattr(owner, attr, wrapper(original))
        self._undo.append((owner, attr, original))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    def wrap_epochs(self, pipe, group_prefix: str) -> None:
        """Make each foreachBatch call of ``pipe`` an ``epoch`` span."""
        process = pipe._process_batch

        def epoch(batch_df, epoch_id):
            with self.span("epoch", f"{group_prefix}e{epoch_id}"):
                return process(batch_df, epoch_id)

        pipe._process_batch = epoch

    def install_cdc(self) -> None:
        """Wrap the calls an epoch makes into each CDC layer."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        from better_cdc_spark.streaming import pipeline as pipeline_mod

        tracer = self

        def in_epoch() -> bool:
            return tracer.current_group() is not None

        def ckpt_wrapper(ckpt):
            def traced(df):
                if not in_epoch():
                    return ckpt(df)
                cols = df.columns
                if "_corrupt_record" in cols:
                    with tracer.span("decode"):
                        out = ckpt(df)
                elif "event_id" in cols:
                    with tracer.span("normalize"):
                        out = ckpt(df)
                    tracer.count(out, "normalize.rows_out")
                else:
                    with tracer.span("pending.merge"):
                        out = ckpt(df)
                    tracer.count(out, "pending.rows_after_dedup")
                return out

            return traced

        def dir_label(path) -> str:
            p = str(path).rstrip("/")
            for label in ("pending", "sink", "decode_dlq"):
                if p.endswith("/" + label) or f"/{label}/" in p:
                    return label
            return "other"

        def reader_wrapper(parquet):
            def traced(self, *paths, **kw):
                if not in_epoch() or not paths:
                    return parquet(self, *paths, **kw)
                with tracer.span(dir_label(paths[0]) + ".read"):
                    return parquet(self, *paths, **kw)

            return traced

        def writer_wrapper(parquet):
            def traced(self, path, *a, **kw):
                if not in_epoch():
                    return parquet(self, path, *a, **kw)
                with tracer.span(dir_label(path) + ".write"):
                    return parquet(self, path, *a, **kw)

            return traced

        def first_wrapper(first):
            def traced(self):
                if not in_epoch():
                    return first(self)
                with tracer.span("sink.span"):
                    return first(self)

            return traced

        self._patch(pipeline_mod, "ckpt", ckpt_wrapper)
        self._patch(DataFrameReader, "parquet", reader_wrapper)
        self._patch(DataFrameWriter, "parquet", writer_wrapper)
        self._patch(DataFrame, "first", first_wrapper)

    # -- export -----------------------------------------------------------

    def to_json(self) -> list[dict]:
        return [
            {"id": s.span_id, "name": s.name, "group": s.group, "parent": s.parent,
             "start": s.start, "end": s.end}
            for s in self.spans
        ]

    def self_time(self, span: Span) -> float:
        """Span duration minus the union of its direct children."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == span.span_id
        )
        covered, lo, hi = 0.0, None, None
        for a, b in kids:
            if hi is None or a > hi:
                if hi is not None:
                    covered += hi - lo
                lo, hi = a, b
            else:
                hi = max(hi, b)
        if hi is not None:
            covered += hi - lo
        return span.s - covered
