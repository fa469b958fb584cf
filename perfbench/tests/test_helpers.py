"""Tests for the benchmark's own helpers (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

import hashlib
import json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import eventlog
from benchstats import tail
from lwworacle import COLS, Oracle, OracleProcess, diff_rows
from spans import Span, Tracer, self_time


# ------------------------------------------------------------- percentile
def test_tail_leaves_ten_samples_above():
    xs = [float(i) for i in range(1, 31)]  # 1..30
    value, pct, n = tail(xs)
    assert n == 30
    assert value == 20.0
    assert sum(1 for x in xs if x > value) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_at_smallest_sample_above_the_median():
    xs = [float(i) for i in range(22, 0, -1)]  # unsorted input
    value, _, _ = tail(xs)
    assert value == 12.0 and sum(1 for x in xs if x > value) == 10


@pytest.mark.parametrize("n", [1, 5, 11, 21])
def test_tail_falls_back_to_max_on_small_samples(n):
    xs = [float(i) for i in range(n)]
    assert tail(xs) == (float(n - 1), 100.0, n)


# ------------------------------------------------------------------ spans
def test_self_time_subtracts_union_of_children_clipped_to_parent():
    parent = Span(0, None, "p", 0.0, 10.0)
    spans = [
        parent,
        Span(1, 0, "a", 1.0, 3.0),
        Span(2, 0, "b", 2.0, 5.0),   # overlaps a
        Span(3, 0, "c", 8.0, 12.0),  # runs past the parent's end
        Span(4, 1, "grandchild", 1.0, 2.0),  # inside a: not a child of p
    ]
    assert self_time(parent, spans) == pytest.approx(10.0 - 4.0 - 2.0)


def test_tracer_patch_nests_spans_and_restores():
    class Engine:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 41

    tr = Tracer()
    tr.patch(Engine, "outer", "outer")
    tr.patch(Engine, "inner", "inner", lambda sp, out: sp.attrs.update(out=out))
    assert Engine().outer() == 42
    tr.restore()
    (outer,), (inner,) = tr.named("outer"), tr.named("inner")
    assert inner.parent == outer.sid and outer.parent is None
    assert inner.attrs == {"out": 41}
    assert outer.start <= inner.start <= inner.end <= outer.end
    Engine().outer()
    assert len(tr.spans) == 2  # wrappers are gone


# -------------------------------------------------------------- event log
def _task_end(stage, launch, finish, *, read=0, write=0, spill=0, gc=0, cpu=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": finish - launch, "Executor CPU Time": cpu,
            "JVM GC Time": gc, "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": spill,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
        },
    }


def _job(jid, stages, tag=None):
    props = {"spark.app.id": "x"}
    if tag:
        props[eventlog.TAG_PROPERTY] = tag
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Stage IDs": stages, "Properties": props}


def test_eventlog_parser_folds_tasks_into_tagged_jobs(tmp_path):
    events = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4"},
        _job(0, [0, 1], "probe.dedup"),
        _task_end(0, 0, 100, write=500, gc=7, cpu=2_000_000),
        _task_end(0, 0, 120, write=700),
        _task_end(1, 200, 300, read=600, spill=3),
        _task_end(1, 200, 300, read=300),
        _task_end(1, 200, 500, read=300),  # the straggler
        _job(1, [2]),
        _task_end(2, 600, 610),
        _task_end(9, 0, 1),  # stage no job started
    ]
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "appstatus_app").write_text("")
    lines = [json.dumps(e) for e in events]
    # a rolling log split across parts, part 10 after part 2
    (d / "events_2_app").write_text("\n".join(lines[:5]) + "\n")
    (d / "events_10_app").write_text("\n".join(lines[5:]) + "\n")
    assert [os.path.basename(p) for p in eventlog.log_files(str(tmp_path))] == [
        "events_2_app", "events_10_app"]

    jobs = eventlog.read_dir(str(tmp_path))
    assert [(j.job_id, j.tag, len(j.tasks)) for j in jobs] == [
        (0, "probe.dedup", 5), (1, None, 1)]
    dj = eventlog.tagged(jobs, "probe.dedup")
    tasks = eventlog.tasks_of(dj)
    assert sum(t.shuffle_write_bytes for t in tasks) == 1200
    assert sum(t.spill_bytes for t in tasks) == 6
    assert sum(t.gc_ms for t in tasks) == 7
    assert sum(t.cpu_ns for t in tasks) == 2_000_000
    # reduce stage 1: task times 100, 100, 300 -> max/median = 3
    assert eventlog.reduce_stage_skew(dj) == pytest.approx(3.0)
    assert eventlog.reduce_stage_skew(eventlog.tagged(jobs, None)) == 1.0


def test_dedup_probe_metrics_in_the_aqe_job_shape():
    import run

    # Under AQE a rep's noop write runs a map-stage job, then a result job
    # that lists the (skipped) map stage and the reduce stage.
    events = []
    for i in range(run.PROBE_REPS):
        m, r, c = 3 * i, 3 * i + 1, 3 * i + 2
        events += [
            _job(10 * i, [m], f"probe.dedup.{i}"),
            _task_end(m, 0, 100, write=400),
            _task_end(m, 0, 100, write=600),
            _job(10 * i + 1, [m, r], f"probe.dedup.{i}"),
            _task_end(r, 0, 100, read=500, spill=1),
            _task_end(r, 0, 100, read=200),
            _task_end(r, 0, 100 * (i + 2), read=300),  # skew i + 2
            _job(10 * i + 2, [c], f"probe.content.{i}"),
            _task_end(c, 0, 100, write=10**6, spill=10**6),
        ]
    jobs = eventlog.parse(json.dumps(e) for e in events)
    m = run.dedup_probe_metrics(jobs, n_events=50)
    assert m["dedup.shuffle_bytes_per_event"] == pytest.approx(1000 / 50)
    assert m["dedup.spill_bytes"] == 2  # memory + disk, per rep
    assert m["dedup.task_skew"] == pytest.approx(3.0)  # median of 2, 3, 4
    # one job alone sees either no reduce stage or only half the rep
    assert eventlog.reduce_stage_skew(jobs[:1]) == 1.0


# ----------------------------------------------------------------- oracle
def _normalize(text):
    from datax_spark.functions.content import normalize_trailing_ws

    return normalize_trailing_ws.func(pd.Series([text]))[0]


def _write_epoch(root, epoch, rows, variant):
    cols = ["repo", "path", "op", "commit", "lsn", "lang", "content"]
    data = {c: [r[i] for r in rows] for i, c in enumerate(cols)}
    if variant:
        data["lang_variant"] = [r[-1] for r in rows]
    d = os.path.join(root, f"epoch={epoch}")
    os.makedirs(d)
    pq.write_table(pa.table(data), os.path.join(d, "part-0.parquet"))


@pytest.fixture
def oracle(tmp_path):
    root = str(tmp_path / "events")
    _write_epoch(root, 0, [
        ("r0", "a.py", "I", "c01", 1, "python", "x = 1  \ny = 2\t\n"),
        ("r0", "b.py", "I", "c02", 2, "python", "old"),
        ("r1", "c.go", "I", "c03", 3, "go", "package c "),
    ], variant=False)
    _write_epoch(root, 1, [
        ("r0", "b.py", "U", "c05", 5, "python", "new   ", "python-v1"),
        ("r0", "b.py", "U", "c04", 4, "python", "stale", "python-v0"),
        ("r1", "c.go", "D", "c06", 6, None, None, None),
    ], variant=True)
    o = Oracle(root, threads=1, temp_dir=str(tmp_path))
    yield o
    o.close()


def test_oracle_process_answers_like_the_oracle(oracle, tmp_path):
    child = OracleProcess(str(tmp_path / "events"), threads=1, temp_dir=str(tmp_path))
    try:
        pd.testing.assert_frame_equal(child.state(1), oracle.state(1))
        assert child.keys(0) == oracle.keys(0) == [
            ("r0", "a.py"), ("r0", "b.py"), ("r1", "c.go")]
        assert child.changed_keys(0, 1) == 2
        with pytest.raises(RuntimeError, match="oracle state"):
            child.state("no such epoch")
    finally:
        child.close()
    assert child._proc.returncode == 0


def _sha(text):
    return hashlib.sha256(_normalize(text).encode()).hexdigest()


def test_oracle_applies_lww_and_the_engine_normalization(oracle):
    st = oracle.state(1)
    assert list(zip(st["repo"], st["path"])) == [("r0", "a.py"), ("r0", "b.py")]
    a, b = st.to_dict("records")
    assert a["content_sha256"] == _sha("x = 1  \ny = 2\t\n")
    assert _normalize("x = 1  \ny = 2\t\n") == "x = 1\ny = 2\n"
    assert (b["lsn"], b["content_sha256"], b["lang_variant"]) == (5, _sha("new   "), "python-v1")
    assert pd.isna(a["lang_variant"])
    assert len(oracle.state(0)) == 3
    assert oracle.changed_keys(0, 1) == 2  # b.py updated, c.go deleted
    assert oracle.changed_keys(-1, 0) == 3


def test_oracle_diff_catches_a_corrupted_row(oracle):
    want = oracle.state(1)
    rows = [tuple(None if pd.isna(v) else v for v in r)
            for r in want[COLS].itertuples(index=False, name=None)]
    assert diff_rows(rows, want) == []

    bad = list(rows[1])
    bad[COLS.index("content_sha256")] = _sha("stale")
    corrupted = [rows[0], tuple(bad)]
    out = diff_rows(corrupted, want)
    assert out[0] == "1 mismatching keys"
    assert "('r0', 'b.py')" in out[1] and "content_sha256" in out[1]

    assert diff_rows(rows[:1], want)[1] == "missing ('r0', 'b.py')"
    extra = rows + [("r9", "z.py", "c99", 99, "go", "0" * 64, None)]
    assert diff_rows(extra, want)[1] == "unexpected ('r9', 'z.py')"
    assert "duplicate key" in diff_rows(rows + rows[:1], want)[1]


# ----------------------------------------------------------- metric names
def test_run_reports_exactly_what_benchmark_json_names():
    import run
    from workloads import SHAPES

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for section, units in (("end_to_end", run.E2E_UNITS), ("per_layer", run.LAYER_UNITS)):
        assert {m["name"]: m["unit"] for m in spec[section]} == units
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS) == list(SHAPES)
