"""LakeTable.lookup: exactness against a filtered full read, snapshot
pinning, null-bearing keys, and the one-Spark-job serving contract."""

import datetime as dt
import time
from decimal import Decimal

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from datax_spark.lake import LakeTable, merge_into

STR_KEY = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("content", T.StringType()),
    ]
)
INT_KEY = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.IntegerType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("content", T.StringType()),
    ]
)
# layout -> (schema, second key part's values, hash_fn, strategy of v2)
LAYOUTS = {
    "cow-xxhash64": (STR_KEY, ["a", "b", "c"], "xxhash64", "shuffle"),
    "cow-murmur3": (STR_KEY, ["a", "b", "c"], "murmur3", "shuffle"),
    "mor-murmur3": (STR_KEY, ["a", "b", "c"], "murmur3", "mor"),
    "int-key": (INT_KEY, [0, 1, 2], "xxhash64", "shuffle"),
}


def _merge(spark, t, schema, rows, strategy="shuffle"):
    ddl = T.StructType(schema.fields + [T.StructField("op", T.StringType())])
    merge_into(t, spark.createDataFrame(rows, ddl), strategy=strategy).commit()


def _build(spark, root, layout):
    """v1: keys r1..r12 x sub, except (r1, sub[1]); tagged 'before'.
    v2: updates (r2, sub[0]) and tombstones (r4, sub[0]) — left pending
    as deltas on the MoR layout."""
    schema, sub, hash_fn, strategy = LAYOUTS[layout]
    t = LakeTable.create(
        spark, root, schema, ["repo", "path"], num_buckets=4, hash_fn=hash_fn
    )
    rows = [
        (f"r{i}", s, 10 * i + j, f"c{i}{s}", "U")
        for i in range(1, 13)
        for j, s in enumerate(sub)
        if (i, j) != (1, 1)
    ]
    _merge(spark, t, schema, rows)
    v1 = t.current_version()
    t.tag("before", v1)
    _merge(
        spark, t, schema,
        [("r2", sub[0], 999, "new", "U"), ("r4", sub[0], 1000, None, "D")],
        strategy,
    )
    if strategy == "mor":
        assert t.manifest().delta_files  # the merged-read path is live
    return t, v1


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("lookup")
    return {name: _build(spark, str(base / name), name) for name in LAYOUTS}


def _buckets(t):
    by_b: dict[int, list[tuple]] = {}
    for r in t.read().select("repo", "path", t.bucket_expr().alias("b")).collect():
        by_b.setdefault(r.b, []).append((r.repo, r.path))
    return [sorted(ks) for _, ks in sorted(by_b.items())]


def _case_keys(case, t, sub):
    if case == "superset_trap":
        # per-column IN admits (r1, sub[0]), which exists but is not asked for
        return [("r1", sub[1]), ("r2", sub[0])]
    if case == "superset_every_bucket":
        # the same trap with requested keys in every bucket, so the
        # admitted extras (r1, sub[0]) and (ri, sub[1]) are in the scan
        # whatever the hash
        return [("r1", sub[1])] + [(f"r{i}", sub[0]) for i in range(2, 13)]
    if case == "absent_and_duplicate":
        return [("r3", sub[2]), ("r3", sub[2]), ("r99", sub[0]), ("r1", sub[1])]
    if case == "empty":
        return []
    if case == "same_bucket":
        return next(ks for ks in _buckets(t) if len(ks) >= 2)[:2]
    if case == "different_buckets":
        return [ks[0] for ks in _buckets(t)[:2]]
    if case == "updated_and_tombstoned":
        return [("r2", sub[0]), ("r4", sub[0]), ("r5", sub[1])]
    if case == "wide":
        return [(f"r{i}", s) for i in range(0, 14) for s in sub]
    raise AssertionError(case)


HEAD_CASES = [
    "superset_trap",
    "superset_every_bucket",
    "absent_and_duplicate",
    "empty",
    "same_bucket",
    "different_buckets",
    "updated_and_tombstoned",
    "wide",
]


@pytest.mark.parametrize(
    "case,version",
    [(c, "head") for c in HEAD_CASES]
    + [(c, v) for c in ("superset_trap", "updated_and_tombstoned") for v in ("v1", "tag")],
)
@pytest.mark.parametrize("layout", list(LAYOUTS))
def test_lookup_equals_filtered_read(spark, tables, layout, case, version):
    """lookup(keys) is exactly the snapshot's rows whose key tuple was
    requested — never the per-column IN superset, never a tombstoned
    or absent key, duplicates collapsed."""
    t, v1 = tables[layout]
    sub = LAYOUTS[layout][1]
    keys = _case_keys(case, t, sub)
    ver = {"head": None, "v1": v1, "tag": "before"}[version]
    pinned = t.current_version() if ver is None else v1
    want = sorted(
        tuple(r) for r in t.read(version=pinned).collect() if (r.repo, r.path) in set(keys)
    )
    got = sorted(tuple(r) for r in t.lookup(keys, version=ver).collect())
    assert got == want
    if case.startswith("superset"):
        assert {(r[0], r[1]) for r in got} <= set(keys)
        assert ("r1", sub[0]) not in {(r[0], r[1]) for r in got}
    if case == "updated_and_tombstoned" and version == "head":
        assert {(r[0], r[1]): r[3] for r in got} == {
            ("r2", sub[0]): "new",
            ("r5", sub[1]): f"c5{sub[1]}",
        }


@pytest.fixture
def driver_off_utc(monkeypatch):
    """Python-side local time west of UTC (the JVM session stays UTC)."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_lookup_typed_keys(spark, tmp_path, driver_off_utc):
    """Key types JSON has no native form for (date, timestamp, decimal,
    binary) survive the exact-tuple literal: every row comes back by
    its own key, and a near-miss key on each column finds nothing. The
    driver runs off UTC, so naive timestamps must mean local time in
    lookup as they do in createDataFrame."""
    schema = T.StructType(
        [
            T.StructField("day", T.DateType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("amt", T.DecimalType(12, 3)),
            T.StructField("blob", T.BinaryType()),
            T.StructField("v", T.StringType()),
        ]
    )
    keys = ["day", "ts", "amt", "blob"]
    t = LakeTable.create(spark, str(tmp_path / "typed"), schema, keys, num_buckets=4)
    rows = [
        (
            dt.date(2020, 1, 1 + i),
            dt.datetime(2021, 3, 4, 5, 6, 7, 1000 * i + 1),
            Decimal(f"{i}.125"),
            bytes([i, 0, 255]),
            f"v{i}",
            "U",
        )
        for i in range(12)
    ]
    _merge(spark, t, schema, rows)
    ask = [r[:4] for r in rows[::3]]
    got = sorted(tuple(r) for r in t.lookup(ask).collect())
    assert got == sorted(r[:5] for r in rows[::3])
    d, ts, amt, blob = rows[0][:4]
    near = [
        (d + dt.timedelta(days=1), ts, amt, blob),
        (d, ts + dt.timedelta(microseconds=1), amt, blob),
        (d, ts, amt + Decimal("0.001"), blob),
        (d, ts, amt, blob + b"\x00"),
    ]
    assert t.lookup(near).collect() == []


def test_lookup_keys_with_none_match_nothing(spark, tables):
    """Keys are non-null by contract: a tuple holding None matches no
    row — mixing it with real keys must not crash the call."""
    t, _ = tables["cow-xxhash64"]
    got = {(r.repo, r.path) for r in t.lookup([("r1", "a"), (None, "b")]).collect()}
    assert got == {("r1", "a")}
    assert t.lookup([(None, None), ("r1", None)]).collect() == []


def test_lookup_reads_the_snapshot_it_planned(spark, tmp_path, monkeypatch):
    """A commit landing between lookup's planning and its read — here a
    rebucket to twice the buckets — must not change which snapshot the
    read sees: bucket ids planned on the old layout, read on the new,
    would silently drop rows."""
    t = LakeTable.create(spark, str(tmp_path / "pin"), STR_KEY, ["repo", "path"], num_buckets=4)
    _merge(spark, t, STR_KEY, [(f"r{i}", f"p{i}", i, f"c{i}", "U") for i in range(64)])
    nb = t.manifest().num_buckets
    # keys whose bucket moves under the new layout
    moved = [
        (r.repo, r.path)
        for r in t.read()
        .select(
            "repo", "path",
            t.bucket_expr().alias("old"), t.bucket_expr(num_buckets=2 * nb).alias("new"),
        )
        .collect()
        if r.old != r.new
    ][:5]
    assert moved

    real = LakeTable.manifest
    fired = []

    def manifest_then_rebucket(self, version=None):
        m = real(self, version)
        if not fired:
            fired.append(True)
            self.rebucket(2 * nb)
        return m

    monkeypatch.setattr(LakeTable, "manifest", manifest_then_rebucket)
    got = {(r.repo, r.path) for r in t.lookup(moved).collect()}
    monkeypatch.undo()
    assert fired and t.manifest().num_buckets == 2 * nb
    assert got == set(moved)


def _jobs(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_lookup_runs_one_spark_job(spark, tables):
    """The serving contract on a copy-on-write table: building the
    lookup launches no Spark job (the key frame is a LocalRelation and
    bucket planning folds on the driver) and collecting it runs exactly
    one — the scan of the touched buckets, with no broadcast join."""
    sc = spark.sparkContext
    t, _ = tables["cow-murmur3"]
    assert not t.manifest().delta_files
    for n, keys in (("one", [("r5", "a")]), ("many", [(f"r{i}", "b") for i in range(2, 9)])):
        df, planned = _jobs(sc, f"lookup-plan-{n}", lambda: t.lookup(keys))
        rows, ran = _jobs(sc, f"lookup-exec-{n}", df.collect)
        assert (planned, ran) == (0, 1), n
        assert len(rows) == len(keys)
    # empty results are local frames too: nothing to run
    _, ran = _jobs(sc, "lookup-empty", lambda: t.lookup([]).collect())
    assert ran == 0
    v = t.current_version()
    _, ran = _jobs(sc, "changes-empty", lambda: t.changes(v, v).collect())
    assert ran == 0


def test_local_frame_types_roundtrip(spark):
    """The driver-built frame helper keeps values and types exactly,
    empty included."""
    from datax_spark.lake.table import local_frame

    schema = T.StructType(
        [
            T.StructField("s", T.StringType()),
            T.StructField("i", T.IntegerType()),
            T.StructField("n", T.LongType()),
        ]
    )
    rows = [("a\x00b", 1, 2**40), (None, -1, None)]
    df = local_frame(spark, rows, schema)
    assert df.schema == schema
    assert [tuple(r) for r in df.collect()] == rows
    assert local_frame(spark, [], schema).collect() == []
    assert local_frame(spark, [], schema).schema == schema
    assert df.select(F.col("i") + 1).collect()[1][0] == 0
