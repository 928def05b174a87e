"""Span nesting, job descriptions and self time, against a fake context."""

from __future__ import annotations

import spans


class FakeContext:
    def __init__(self) -> None:
        self.props: dict[str, str | None] = {}
        self.descriptions: list[str | None] = []

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setJobDescription(self, value):
        self.props["spark.job.description"] = value
        self.descriptions.append(value)


class FakeSpark:
    def __init__(self) -> None:
        self.sparkContext = FakeContext()


def test_children_share_the_group_and_set_descriptions():
    spark = FakeSpark()
    tracer = spans.Tracer(spark)
    with tracer.span("epoch", "d1e0"):
        with tracer.span("decode"):
            pass
        with tracer.span("sink.write"):
            assert spark.sparkContext.props["spark.job.description"] == "sink.write#d1e0"
    epoch, decode, write = tracer.spans
    assert (decode.group, write.group) == ("d1e0", "d1e0")
    assert decode.parent == write.parent == epoch.span_id and epoch.parent is None
    # each span restores the description it found
    assert spark.sparkContext.props["spark.job.description"] is None
    assert tracer.current_group() is None


def test_self_time_subtracts_the_union_of_children():
    tracer = spans.Tracer(FakeSpark())
    tracer.spans = [
        spans.Span(0, "epoch", "g", None, 0.0, 10.0),
        spans.Span(1, "decode", "g", 0, 1.0, 3.0),
        spans.Span(2, "trace.count", "g", 0, 2.0, 4.0),  # overlaps decode
        spans.Span(3, "sink.write", "g", 0, 6.0, 7.0),
        spans.Span(4, "inner", "g", 3, 6.2, 6.4),  # a grandchild is not subtracted twice
    ]
    assert abs(tracer.self_time(tracer.spans[0]) - (10.0 - 3.0 - 1.0)) < 1e-9
    assert abs(tracer.self_time(tracer.spans[3]) - 0.8) < 1e-9


def test_counts_sum_across_epochs():
    tracer = spans.Tracer(FakeSpark())

    class Frame:
        def __init__(self, n):
            self.n = n

        def count(self):
            return self.n

    for group, n in (("d1e0", 3), ("d1e1", 4)):
        with tracer.span("epoch", group):
            tracer.count(Frame(n), "normalize.rows_out")
    assert tracer.counts == {"normalize.rows_out": 7}
    assert [s.name for s in tracer.spans].count("trace.count") == 2
