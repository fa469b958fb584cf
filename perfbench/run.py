"""CDC benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload backfill|serve \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Set-up (session start, seeded log
generation, base-table load, warmup) is timed as ``setup_s``; then one
client drives the workload's closed loop for ``--seconds``; then every
read and the final table are checked against an independent DuckDB
replay of the raw log. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The
line before it carries the run's details (tail percentiles with their
sample counts, the pure-CPU control, set-up phases, error rate).

With ``--trace 1`` the untraced loop runs first; then the Spark
context is restarted with its event log on, the engine's public functions are
wrapped in spans, and the loop runs again. The per-layer metrics come
from that second pass, and ``trace.overhead_frac`` compares its epoch
latency with the first pass. All files go under ``perfbench/.work``.
See perfbench/README.md for what each metric measures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from statistics import mean, median

import eventlog
from benchstats import tail
from lwworacle import COLS, OracleProcess, diff_rows
from proctree import PeakRss, reap_descendants
from spans import Tracer, self_time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

WORKLOADS = ("backfill", "serve")

E2E_UNITS = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "epoch_latency_p50_s": "s",
    "epoch_latency_tail_s": "s",
    "lookup_p50_s": "s",
    "lookup_tail_s": "s",
    "scan_p50_s": "s",
    "changes_p50_s": "s",
    "snapshot_bytes_per_row": "bytes/row",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "engine.epoch_s": "s",
    "engine.self_s": "s",
    "engine.spark_jobs_per_epoch": "jobs/epoch",
    "engine.spark_tasks_per_epoch": "tasks/epoch",
    "dedup.probe_s": "s",
    "dedup.keys_per_event": "keys/event",
    "dedup.shuffle_bytes_per_event": "bytes/event",
    "dedup.spill_bytes": "bytes",
    "dedup.task_skew": "ratio",
    "content.probe_s": "s",
    "merge.span_s": "s",
    "merge.rows_written_per_event": "rows/event",
    "merge.bytes_written_per_event": "bytes/event",
    "merge.buckets_touched_frac": "fraction",
    "table.commit_s": "s",
    "table.manifest_bytes": "bytes",
    "table.lookup_plan_s": "s",
    "table.lookup_exec_s": "s",
    "table.lookup_files_kept": "files",
    "table.lookup_files_skipped": "files",
    "table.scan_files": "files",
    "table.delta_files_pending": "files",
    "table.changes_rows": "rows",
    "metrics.write_s": "s",
    "spark.gc_s": "s",
    "spark.executor_cpu_s_per_event": "s/event",
    "host.cpu_control_s": "s",
    "trace.overhead_frac": "fraction",
}

PROBE_REPS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def fit_env(cores: int) -> None:
    """Size the run to this machine and keep every file in ``WORK``."""
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    driver_gb = max(1, min(4, mem_kb // 2**20 // 4))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # no hsperfdata files in /tmp either
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Python workers import the engine from this checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "PYSPARK_PYTHON": sys.executable,
        "OMP_NUM_THREADS": str(cores),
    })


def start_session(cores: int, event_log: str | None):
    from datax_spark.session import get_spark

    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark


def shutdown_jvm() -> None:
    """Stop the gateway JVM pyspark launched and wait for it; it exits
    when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def forget_udf_handles() -> None:
    """Drop the JVM handles the content UDFs cached in the stopped
    context; they would still point at its Python accumulator server."""
    from datax_spark.functions import content

    for f in (content.normalize_trailing_ws, content.sha256_hex,
              content.token_count_bpeish):
        udf = getattr(f, "_unwrapped", None)
        if udf is not None:
            udf._judf_placeholder = None


def cpu_control(spark, cores: int) -> float:
    """``bench.py``'s pure-CPU codegen job at a tenth of its size: what
    the host gives right now, whatever the engine does."""
    t0 = time.perf_counter()
    spark.range(0, 25_000_000 * cores, 1, cores * 4).selectExpr(
        "sum(cast(xxhash64(id) as double))"
    ).collect()
    return time.perf_counter() - t0


# ---------------------------------------------------------------- checks
def verify(spark, wl, oracle, recs, tables):
    """Check the final tables and every recorded read against the
    oracle. Returns (checks attempted, failure lines, bytes per row)."""
    from pyspark.sql import functions as F

    from datax_spark.lake.table import LakeTable
    from workloads import table_cols

    attempted, failed = 0, []
    bytes_per_row = 0.0
    for root, last in tables:
        attempted += 1
        tab = LakeTable.load(spark, root)
        df = tab.read()
        rows = df.select(*table_cols(df), F.sha2("content", 256)).collect()
        bad = diff_rows([tuple(r[: len(COLS)]) for r in rows], oracle.state(last))
        if bad:
            failed.append(f"table {os.path.basename(root)} @ epoch {last}: " + "; ".join(bad))
        i = COLS.index("content_sha256")
        n_sha = sum(1 for r in rows if r[i] != r[len(COLS)])
        if n_sha:
            failed.append(f"table {os.path.basename(root)}: {n_sha} stored content_sha256 "
                          "values differ from sha2(content)")
        m = tab.manifest()
        paths = [p for fs in (m.files, m.delta_files) for ps in fs.values() for p in ps]
        size = sum(os.path.getsize(os.path.join(root, p)) for p in paths)
        bytes_per_row = size / max(len(rows), 1)
    key_idx = {}
    for rec in recs:
        for kind, epoch, arg, got in rec.reads:
            attempted += 1
            if kind == "lookup":
                st = oracle.state(epoch)
                if epoch not in key_idx:
                    key_idx[epoch] = st.set_index(["repo", "path"]).index
                want = st[key_idx[epoch].isin([arg])]
                bad = diff_rows(got, want)
                if bad:
                    failed.append(f"lookup {arg} @ epoch {epoch}: " + "; ".join(bad))
            elif kind == "scan":
                st = oracle.state(epoch)
                want = int((st["lang"] == arg).sum())
                if got != want:
                    failed.append(f"scan lang={arg} @ epoch {epoch}: {got} rows, oracle {want}")
            else:
                want = oracle.changed_keys(*epoch)
                if got != want:
                    failed.append(f"changes {epoch}: {got} rows, oracle {want}")
    return attempted, failed, bytes_per_row


# --------------------------------------------------------------- tracing
def install_spans(tracer):
    import datax_spark.engine.replay as replay
    from datax_spark.lake.table import LakeTable

    def keep_pending(span, pending):
        span.attrs["pending"] = pending

    tracer.patch(replay.ReplayEngine, "apply_epoch", "engine.apply_epoch")
    tracer.patch(replay, "lww_dedup_stats", "dedup.lww_dedup_stats")
    tracer.patch(replay, "merge_into", "merge.merge_into", keep_pending)
    tracer.patch(replay, "write_epoch_metrics", "metrics.write")
    tracer.patch(LakeTable, "commit", "table.commit")
    tracer.patch(LakeTable, "commit_deltas", "table.commit")


def run_probes(spark, wl, epoch: int) -> dict:
    """Standalone dedup, then dedup plus the content transforms, on one
    applied epoch's input, each into a noop sink with the epoch's
    aligned shuffle settings, ``PROBE_REPS`` times. The jobs of rep
    ``i`` are tagged ``probe.dedup.<i>`` and ``probe.content.<i>``: under
    AQE one noop write runs a job per shuffle stage."""
    from datax_spark.engine.replay import aligned_shuffle_confs
    from datax_spark.operators.dedup import lww_dedup_stats
    from workloads import content_transforms

    cfg = wl.cfg
    ev = spark.read.parquet(os.path.join(wl.events_root, f"epoch={epoch}"))
    n_events = ev.count()

    def dedup():
        return lww_dedup_stats(
            ev, keys=list(cfg.keys), order_cols=list(cfg.order_cols),
            op_col=cfg.op_col, delete_op=cfg.delete_op, lsn_col=cfg.lsn_col,
            content_col="content", salt_buckets=cfg.salt_buckets,
        )

    out = {"events": n_events, "probe.dedup": [], "probe.content": []}
    for i in range(PROBE_REPS):
        for tag, frame in (("probe.dedup", dedup),
                           ("probe.content", lambda: content_transforms(dedup()))):
            spark.sparkContext.setLocalProperty(eventlog.TAG_PROPERTY, f"{tag}.{i}")
            with aligned_shuffle_confs(spark, cfg.num_buckets):
                t0 = time.perf_counter()
                frame().write.format("noop").mode("overwrite").save()
                out[tag].append(time.perf_counter() - t0)
            spark.sparkContext.setLocalProperty(eventlog.TAG_PROPERTY, None)
    return out


def table_layer_facts(spark, wl) -> dict:
    """Scan planning facts of the final table: files a point lookup and a
    predicate scan keep, pending deltas, manifest size."""
    from pyspark.sql import types as T

    from datax_spark.fixtures.changelog import LANGS
    from datax_spark.lake.table import LakeTable, bucket_expr_for

    root, _ = wl.last_table
    tab = LakeTable.load(spark, root)
    m = tab.manifest()
    n_files = sum(len(v) for v in m.files.values())
    kept = []
    for key in wl.live_keys[:: max(1, len(wl.live_keys) // 3)][:3]:
        kdf = spark.createDataFrame(
            [key], T.StructType([T.StructField(k, T.StringType()) for k in m.key_cols]))
        b = kdf.select(bucket_expr_for(m)).collect()[0][0]
        flt = [(k, "in", [v]) for k, v in zip(m.key_cols, key)]
        kept.append(len(tab.plan_files(flt, buckets=[b])[0]))
    scan_kept = [len(tab.plan_files([("lang", "=", lang)])[0]) for lang in LANGS]
    man = os.path.join(root, "_manifests", f"v{m.version:08d}.json")
    return {
        "table.lookup_files_kept": mean(kept),
        "table.lookup_files_skipped": n_files - mean(kept),
        "table.scan_files": mean(scan_kept),
        "table.delta_files_pending": sum(len(v) for v in m.delta_files.values()),
        "table.manifest_bytes": os.path.getsize(man),
    }


def dedup_probe_metrics(jobs, n_events: int) -> dict:
    """Shuffle bytes per input event and spill per probe over all dedup
    probe reps; task skew of each rep's reduce stage, median over reps."""
    reps = [eventlog.tagged(jobs, f"probe.dedup.{i}") for i in range(PROBE_REPS)]
    tasks = eventlog.tasks_of([j for r in reps for j in r])
    return {
        "dedup.shuffle_bytes_per_event":
            sum(t.shuffle_write_bytes for t in tasks) / (n_events * PROBE_REPS),
        "dedup.spill_bytes": sum(t.spill_bytes for t in tasks) / PROBE_REPS,
        "dedup.task_skew": median([eventlog.reduce_stage_skew(r) for r in reps]),
    }


def layer_metrics(rec_a, rec_b, tracer, jobs, probes, facts, controls, num_buckets):
    """Per-layer metrics of the traced pass ``rec_b``: spans, the event
    log's tagged jobs, the probes and the table facts."""
    ap = tracer.named("engine.apply_epoch")
    n_ep = len(rec_b.epoch_s)
    events = sum(r.n_events for r in rec_b.results)
    ep_jobs = eventlog.tagged(jobs, "epoch")
    loop_jobs = [j for j in jobs if j.tag in ("epoch", "lookup", "scan", "changes")]
    pend = [s.attrs["pending"] for s in tracer.named("merge.merge_into")]

    def written_bytes(p):
        return sum(os.path.getsize(f if os.path.isabs(f) else os.path.join(p.table.root, f))
                   for fs in p.new_files.values() for f in fs)

    m = dict(facts)
    m.update(dedup_probe_metrics(jobs, probes["events"]))
    m.update({
        "engine.epoch_s": median([s.duration for s in ap]),
        "engine.self_s": median([self_time(s, tracer.spans) for s in ap]),
        "engine.spark_jobs_per_epoch": len(ep_jobs) / n_ep,
        "engine.spark_tasks_per_epoch": len(eventlog.tasks_of(ep_jobs)) / n_ep,
        "dedup.probe_s": median(probes["probe.dedup"]),
        "dedup.keys_per_event": sum(r.n_keys for r in rec_b.results) / events,
        "content.probe_s": median(probes["probe.content"]) - median(probes["probe.dedup"]),
        "merge.span_s": median([s.duration for s in tracer.named("merge.merge_into")]),
        "merge.rows_written_per_event":
            sum(sum(p.new_row_counts.values()) for p in pend) / events,
        "merge.bytes_written_per_event": sum(written_bytes(p) for p in pend) / events,
        "merge.buckets_touched_frac":
            mean(len(p.stats.affected_buckets) for p in pend) / num_buckets,
        "table.commit_s": median([s.duration for s in tracer.named("table.commit")]),
        "table.lookup_plan_s": median(rec_b.lookup_plan_s),
        "table.lookup_exec_s": median(rec_b.lookup_exec_s),
        "table.changes_rows": mean(rec_b.changes_rows),
        "metrics.write_s": median([s.duration for s in tracer.named("metrics.write")]),
        "spark.gc_s": sum(t.gc_ms for t in eventlog.tasks_of(loop_jobs)) / 1000.0,
        "spark.executor_cpu_s_per_event":
            sum(t.cpu_ns for t in eventlog.tasks_of(ep_jobs)) / 1e9 / events,
        "host.cpu_control_s": median(controls),
        "trace.overhead_frac": median(rec_b.epoch_s) / median(rec_a.epoch_s) - 1.0,
    })
    return m


def e2e_metrics(rec, setup_s, bytes_per_row, peak_mb):
    return {
        "setup_s": setup_s,
        "events_per_s": rec.events / rec.replay_s,
        "epoch_latency_p50_s": median(rec.epoch_s),
        "epoch_latency_tail_s": tail(rec.epoch_s)[0],
        "lookup_p50_s": median(rec.lookup_s),
        "lookup_tail_s": tail(rec.lookup_s)[0],
        "scan_p50_s": median(rec.scan_s),
        "changes_p50_s": median(rec.changes_s),
        "snapshot_bytes_per_row": bytes_per_row,
        "peak_rss_mb": peak_mb,
    }


# ------------------------------------------------------------------ main
def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    try:
        import datax_spark  # noqa: F401 - the engine under test
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    cores = len(os.sched_getaffinity(0))
    fit_env(cores)

    from workloads import SHAPES, Record, Workload

    work = os.path.join(WORK, "data")
    wl = Workload(SHAPES[args.workload], work, args.seed, cores)
    phases = {}
    spark = oracle = None
    with PeakRss(os.getpid()) as rss:
        try:
            spark = start_session(cores, None)
            phases["session_s"] = time.perf_counter() - t_start
            t = time.perf_counter()
            wl.generate(spark, args.seconds)
            oracle = OracleProcess(wl.events_root, cores, os.environ["TMPDIR"])
            rss.exclude.add(oracle.pid)
            phases["generate_s"] = time.perf_counter() - t
            t = time.perf_counter()
            wl.load_and_warm(spark, oracle.keys)
            phases["load_warm_s"] = time.perf_counter() - t
            setup_s = time.perf_counter() - t_start

            # the first control run also compiles the job; keep both
            controls = [cpu_control(spark, cores), cpu_control(spark, cores)]
            rec_a = Record()
            wl.run(spark, args.seconds, rec_a)
            tables = [wl.last_table]
            recs = [rec_a]

            if args.trace:
                event_log = os.path.join(WORK, "eventlog")
                spark.stop()
                forget_udf_handles()
                spark = start_session(cores, event_log)
                wl.load_and_warm(spark, oracle.keys)
                wl.tagging = True
                tracer = Tracer()
                install_spans(tracer)
                rec_b = Record()
                try:
                    wl.run(spark, args.seconds, rec_b)
                finally:
                    tracer.restore()
                probes = run_probes(spark, wl, rec_b.results[-1].epoch)
                facts = table_layer_facts(spark, wl)
                wl.tagging = False
                tables = [t for t in tables if t[0] != wl.last_table[0]] + [wl.last_table]
                recs.append(rec_b)

            rss.stop()  # the checks below are not part of the engine's footprint
            n_checks, mismatches, bytes_per_row = verify(spark, wl, oracle, recs, tables)
            controls.append(cpu_control(spark, cores))
        finally:
            if oracle is not None:
                oracle.close()
            if spark is not None:
                spark.stop()
                shutdown_jvm()
        peak_mb = rss.peak_mb
    leftovers = reap_descendants(os.getpid())

    attempted = sum(r.attempted for r in recs) + n_checks
    failures = [f for r in recs for f in r.failed] + mismatches
    if leftovers:
        failures.append(f"killed {len(leftovers)} processes still running at exit")
    correct = not failures

    if args.trace:
        jobs = eventlog.read_dir(event_log)
        metrics = layer_metrics(rec_a, rec_b, tracer, jobs, probes, facts,
                                controls, wl.cfg.num_buckets)
        units = LAYER_UNITS
    else:
        metrics = e2e_metrics(rec_a, setup_s, bytes_per_row, peak_mb)
        units = E2E_UNITS

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "num_buckets": wl.cfg.num_buckets,
        "driver_mem": os.environ["SPARK_DRIVER_MEM"],
        "setup_phases_s": phases,
        "cpu_control_s": controls,
        "epochs": len(rec_a.epoch_s), "events": rec_a.events,
        "epoch_latency_tail": dict(zip(("value_s", "pct", "n"), tail(rec_a.epoch_s))),
        "lookup_tail": dict(zip(("value_s", "pct", "n"), tail(rec_a.lookup_s))),
        "samples_s": {k: [round(x, 4) for x in v] for k, v in (
            ("epoch", rec_a.epoch_s), ("lookup", rec_a.lookup_s),
            ("scan", rec_a.scan_s), ("changes", rec_a.changes_s))},
        "error_rate": len(failures) / attempted,
        "failures": failures[:20],
        "wall_s": time.perf_counter() - t_start,
    }
    print(json.dumps({"perfbench_detail": detail}))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    shutil.rmtree(WORK, ignore_errors=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
