"""Tests of the span tracer and the event-log reader.

    python3 -m pytest perfbench/test_tracing.py -q

``testdata/tiny_eventlog`` was recorded from a tiny traced run by
``python3 perfbench/test_tracing.py --record`` (needs pyspark and a JVM):
a span ``tiny.minhash`` with a nested span ``tiny.agg``, then one job
outside any span.  Only the event types the reader uses are kept.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import GroupStats, Span, SpanStats, Tracer, read_event_log  # noqa: E402

DATA = os.path.join(HERE, "testdata")
LOG = os.path.join(DATA, "tiny_eventlog")
SPANS = os.path.join(DATA, "tiny_spans.json")
KEEP = {"SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd"}


class FakeContext:
    def __init__(self):
        self.calls = []

    def setJobGroup(self, group, description):
        self.calls.append(("group", group))

    def setLocalProperty(self, key, value):
        self.calls.append((key, value))


def _recorded_tracer() -> Tracer:
    with open(SPANS) as f:
        doc = json.load(f)
    t = Tracer(FakeContext(), doc["spans"][0]["run_id"])
    t.spans = [Span(**s) for s in doc["spans"]]
    return t


def test_groups_from_recorded_log():
    groups = read_event_log(LOG)
    t = _recorded_tracer()
    minhash = groups[t.group(0)]
    agg = groups[t.group(1)]
    # the mapInPandas kernel ran in Python workers and was shipped data
    assert minhash.python_run_ms > 0
    assert minhash.python_bytes_sent > 0
    assert minhash.tasks > 0 and minhash.executor_cpu_ns > 0
    # the nested aggregation shuffled, and ran no Python
    assert agg.shuffle_write_bytes > 0 and agg.shuffle_read_bytes > 0
    assert agg.python_run_ms == 0 and agg.python_bytes_sent == 0
    # the job outside any span has no group
    assert groups[None].jobs >= 1
    assert sum(g.jobs for g in groups.values()) == sum(
        len(g.job_times) for g in groups.values())
    for g in groups.values():
        assert g.task_skew >= 1.0
        assert all(end >= start for start, end in g.job_times)


def test_span_stats_include_nested_spans():
    groups = read_event_log(LOG)
    t = _recorded_tracer()
    st = SpanStats(t, groups)
    outer, inner = st.of(t.spans[0]), st.of(t.spans[1])
    assert inner.shuffle_write_bytes == groups[t.group(1)].shuffle_write_bytes
    assert outer.tasks == groups[t.group(0)].tasks + groups[t.group(1)].tasks
    assert outer.jobs == groups[t.group(0)].jobs + groups[t.group(1)].jobs
    assert outer.python_run_ms == groups[t.group(0)].python_run_ms
    assert st.named("tiny.agg").tasks == inner.tasks


def test_task_skew_uses_heaviest_stage():
    g = GroupStats(stage_task_ms={1: [10, 10, 40], 2: [100, 100, 100, 400]})
    assert g.task_skew == 4.0
    assert GroupStats().task_skew == 0.0


def test_tracer_nests_and_restores_job_groups():
    sc = FakeContext()
    t = Tracer(sc, "r")
    with t.span("a"):
        with t.span("b"):
            pass
    assert [s.parent for s in t.spans] == [None, 0]
    assert all(s.end >= s.start for s in t.spans)
    assert sc.calls == [("group", "r/0"), ("group", "r/1"), ("group", "r/0"),
                        ("spark.jobGroup.id", None),
                        ("spark.job.description", None)]


def record() -> None:
    """Record ``testdata/tiny_eventlog`` and ``tiny_spans.json``."""
    import shutil
    import tempfile

    root = os.path.dirname(HERE)
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = root
    from sbustreamspot_core_spark.operators.dedup import minhash_signatures
    from sbustreamspot_core_spark.session import get_spark
    from tracing import find_event_log

    tmp = tempfile.mkdtemp(dir=os.path.join(root, ".perfbench_work"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.makedirs(os.path.join(tmp, "log"))
    spark = get_spark("tiny", cpus=2, extra_conf={
        "spark.driver.memory": "1g",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.join(tmp, "log"),
        "spark.eventLog.compress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse")})
    docs = spark.createDataFrame([(i, f"doc {i} " * 5) for i in range(40)],
                                 "doc_id long, text string")
    t = Tracer(spark.sparkContext, "tiny")
    with t.span("tiny.minhash"):
        minhash_signatures(docs, num_hashes=8).count()
        with t.span("tiny.agg"):
            spark.range(2000, numPartitions=4).selectExpr("id % 7 AS k") \
                .groupBy("k").count().collect()
    spark.range(10).count()
    spark.stop()
    shutil.rmtree(LOG, ignore_errors=True)
    os.makedirs(LOG)
    with open(os.path.join(LOG, "events_1_tiny"), "w") as out:
        src = find_event_log(os.path.join(tmp, "log"))
        for fn in sorted(os.listdir(src)):
            if not fn.startswith("events_"):
                continue
            for line in open(os.path.join(src, fn)):
                e = json.loads(line)
                if e["Event"] not in KEEP:
                    continue
                if "Properties" in e:
                    e["Properties"] = {k: v for k, v in e["Properties"].items()
                                       if k == "spark.jobGroup.id"}
                e.pop("Stage Infos", None)
                out.write(json.dumps(e) + "\n")
    t.write(SPANS)
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    if sys.argv[1:] == ["--record"]:
        record()
