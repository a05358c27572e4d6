#!/usr/bin/env python3
"""Benchmark of the aircan_spark ingestion lifecycle and query registry.

    python3 perfbench/run.py --workload bulk-load --seed 1 --seconds 8 --trace 0

Drives the engine's public API from one client in a closed loop on
``local[<nproc>]``: each operation starts only after the previous one
finished. Workloads, metrics and the layer-to-metric table are described
in ``perfbench/README.md``.

The run prints one ``metric <name> <value> <unit>`` line per metric, then,
as the last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Every output is checked; a failing
operation is reported by name on stderr and counted in ``failed``.

Input tables are read from ``$PERFBENCH_DATA`` (default ``~/testdata``),
which holds TPC-H-shaped ``sf0.1`` and ``sf0.01`` directories; everything
the run writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from types import SimpleNamespace

from spans import Recorder, union_seconds

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
LAYERS = ["pipeline", "sources", "validate", "rownum", "upsert", "table", "bucketed", "export",
          "queries.construct", "queries.execute"]
# summed over a layer's spans; ``<layer>.calls`` counts the spans
LAYER_FIELDS = [("self_s", "s"), ("jobs", "count"), ("tasks", "count"), ("input_bytes", "bytes"),
                ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"), ("executor_run_s", "s")]
SOURCE_LAYERS = ("sources", "validate", "rownum")


def calibration(spark, nproc: int) -> float:
    """Median of a fixed trivial query (1M-row range, 101-key hash
    aggregate, noop sink): host speed, independent of the engine."""
    from pyspark.sql import functions as F

    reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        (spark.range(1_000_000, numPartitions=nproc).groupBy((F.col("id") % 101).alias("k")).count()
         .write.format("noop").mode("overwrite").save())
        reps.append(time.perf_counter() - t0)
    return statistics.median(reps)


def release(spark) -> None:
    """Drop every cached plan and persisted RDD the operation left."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)


def data_files(dirs: list[str]) -> dict[str, int]:
    out = {}
    for d in dirs:
        for base, _, files in os.walk(d):
            for f in files:
                if not f.startswith((".", "_")):
                    p = os.path.join(base, f)
                    out[p] = os.path.getsize(p)
    return out


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stat_fields(path: str) -> tuple[str, list[str]]:
    """Command name and the fields after it (fields[0] is /proc stat field 3)."""
    with open(path) as fh:
        raw = fh.read()
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 2:].split()


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    ``root`` and every live descendant: the driver, its JVM and the Python
    workers, less what the JVM's JIT compiler threads used. Time the
    hypervisor steals from the guest is not in it, so it is far less
    sensitive than wall time to a busy shared host. JIT compilation is left
    out because it is the JVM warming up, not the engine's work, and its
    timing varies from run to run: in a warm JVM it was still 40-70% of an
    operation's CPU on some operations and none on others. The session pins
    the compiler threads (``-XX:-UseDynamicNumberOfCompilerThreads``), so
    none ends and takes its time into the process total unsubtracted."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            _, fields = _stat_fields(f"/proc/{entry}/stat")
        except OSError:  # the process ended while we listed
            continue
        children.setdefault(int(fields[1]), []).append(int(entry))
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, []))
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                name, fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if "CompilerThre" in name:  # "C1 CompilerThre", "C2 CompilerThre"
                total -= int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def percentile_tail(durations: list[float]):
    """Highest percentile with at least 10 samples beyond it."""
    n = len(durations)
    if n < 11:
        return None
    i = n - 11
    return sorted(durations)[i], 100.0 * (i + 1) / n, n


class Runner:
    """Runs operations one at a time and keeps one record per operation."""

    def __init__(self, ctx, workload, trace: bool):
        self.ctx, self.wl, self.trace = ctx, workload, trace
        self.records: list[dict] = []

    def execute(self, op, phase: str) -> dict:
        ctx = self.ctx
        dirs = self.wl.written_dirs()
        before = {layer: data_files(ds) for layer, ds in dirs.items()} if self.trace else {}
        op_id = f"{phase}{len(self.records):04d} {op.name}"
        keep_s = ctx.rec.bookkeeping_s
        cpu0 = tree_cpu_s(os.getpid())
        result, errors = None, []
        with ctx.rec.operation(op_id):
            t0 = time.perf_counter()
            try:
                result = op.run()
            except Exception as exc:  # a failed operation is reported, never dropped
                traceback.print_exc()
                errors.append(f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}")
            dur = time.perf_counter() - t0
        cpu = tree_cpu_s(os.getpid()) - cpu0
        residue = ctx.sc._jsc.getPersistentRDDs().size()
        if not errors and op.check is not None:
            try:
                errors = op.check(result)
            except Exception as exc:
                traceback.print_exc()
                errors = [f"check raised {type(exc).__name__}: {exc}"]
        release(ctx.spark)
        rec = {"op": op_id, "kind": op.kind, "phase": phase, "dur": dur, "cpu": cpu, "rows": op.rows,
               "bytes": op.bytes, "residue": residue, "errors": errors}
        if self.trace:
            rec["spans"] = ctx.rec.attribute(op_id)
            rec["bookkeeping_s"] = ctx.rec.bookkeeping_s - keep_s
            rec["written"] = {}
            for layer, ds in dirs.items():
                new = {p: s for p, s in data_files(ds).items() if p not in before[layer]}
                rec["written"][layer] = (len(new), sum(new.values()))
        if errors:
            print(f"FAILED {op_id}: {'; '.join(errors)}", file=sys.stderr)
        self.records.append(rec)
        return rec


def end_to_end(runner, measured, setup_s, peak_rss_mb, stored) -> dict:
    durs = [r["dur"] for r in measured]
    total = sum(durs)
    m = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(durs) / total, "1/s"),
        "cpu_s_per_op": (sum(r["cpu"] for r in measured) / len(durs), "s"),
        "op_p50_s": (statistics.median(durs), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    rows = sum(r["rows"] for r in measured)
    m["rows_per_s"] = (rows / total if rows else None, "1/s")
    tail = percentile_tail(durs)
    m["op_tail_s"] = (tail[0] if tail else None, "s")
    for kind in ("overwrite", "upsert", "bucketed_upsert", "append", "query"):
        ks = [r["dur"] for r in measured if r["kind"] == kind]
        m[f"{kind}_p50_s"] = (statistics.median(ks) if ks else None, "s")
    attempted = len(runner.records)
    failed = sum(1 for r in runner.records if r["errors"])
    m["error_ratio"] = (failed / attempted, "ratio")
    m["stored_bytes_per_row"] = (stored[0] / stored[1] if stored else None, "bytes")
    return m, tail


def per_layer(measured: list[dict]) -> dict:
    n = len(measured)
    spans = [s for r in measured for s in r["spans"]]
    m = {}
    for layer in LAYERS + ["harness"]:
        ls = [s for s in spans if s["layer"] == layer]
        m[f"{layer}.calls"] = (len(ls) / n, "count")
        for field, unit in LAYER_FIELDS:
            m[f"{layer}.{field}"] = (sum(s[field] for s in ls) / n, unit)
    src_bytes = sum(r["bytes"] for r in measured)
    read = sum(s["input_bytes"] for s in spans if s["layer"] in SOURCE_LAYERS)
    m["sources.scan_ratio"] = (read / src_bytes if src_bytes else 0.0, "ratio")
    m["table.read_calls"] = (sum(1 for s in spans if s["name"] == "ParquetTable.read") / n, "count")
    for layer in ("table", "bucketed", "export"):
        files = sum(r["written"].get(layer, (0, 0))[0] for r in measured)
        size = sum(r["written"].get(layer, (0, 0))[1] for r in measured)
        m[f"{layer}.files_written"] = (files / n, "count")
        m[f"{layer}.bytes_written"] = (size / n, "bytes")
    gaps, sum_err = [], 0.0
    for r in measured:
        ss = r["spans"]
        root = next(s for s in ss if s["parent"] is None)
        jobs = [iv for s in ss for iv in s["job_intervals"]]
        dur = root["end"] - root["start"]
        gaps.append(dur - union_seconds(jobs, root["wall_start"], root["wall_end"]))
        sum_err = max(sum_err, abs(sum(s["self_s"] for s in ss) - dur))
    query = measured[0]["kind"] == "query"
    for prefix, on in (("pipeline", not query), ("queries", query)):
        m[f"{prefix}.driver_gap_s"] = (statistics.fmean(gaps) if on else 0.0, "s")
        m[f"{prefix}.residue_rdds"] = (statistics.fmean(r["residue"] for r in measured) if on else 0.0, "count")
    m["trace.op_p50_s"] = (statistics.median(r["dur"] for r in measured), "s")
    m["trace.bookkeeping_s"] = (statistics.fmean(r["bookkeeping_s"] for r in measured), "s")
    m["trace.self_sum_error_s"] = (sum_err, "s")
    return m


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    work_root = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work_root, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # everything Spark, the JVM, Python workers and tempfile write stays here
    os.environ["TMPDIR"] = run_dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    tempfile.tempdir = run_dir
    sys.path[:0] = [ROOT, HERE]
    try:
        try:
            return measure(args, run_dir, work_root)
        except ImportError as exc:
            print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
            return 2
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, run_dir: str, work_root: str) -> int:
    marks = [("start", time.perf_counter())]
    from aircan_spark import pipeline
    from aircan_spark.session import get_spark

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    data_root = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata"))
    data_dir = os.path.join(data_root, "sf0.1")
    if not os.path.isdir(data_dir):
        print(f"perfbench: input tables not found at {data_dir} (set PERFBENCH_DATA)", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "4g",
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir} -XX:-UsePerfData "
                                             "-XX:-UseDynamicNumberOfCompilerThreads",
            # UDF and multimodal keys import the package on the Python
            # workers, whatever directory the benchmark started from
            "spark.executorEnv.PYTHONPATH": ROOT,
        },
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    jvm = sc._gateway.proc
    try:
        rec = Recorder(sc, enabled=bool(args.trace))
        ctx = SimpleNamespace(spark=spark, sc=sc, rec=rec, pipeline=pipeline, seed=args.seed,
                              data_root=data_root, data_dir=data_dir)
        wl = workloads.WORKLOADS[args.workload](ctx)
        runner = Runner(ctx, wl, bool(args.trace))
        marks.append(("session", time.perf_counter()))

        prep = []
        for r in range(SETUP_REPS):
            work = os.path.join(run_dir, f"setup{r}")
            t0 = time.perf_counter()
            generated = wl.prepare(work)
            prep.append(time.perf_counter() - t0)
            release(spark)
            if r < SETUP_REPS - 1:
                shutil.rmtree(work, ignore_errors=True)
        t0 = time.perf_counter()
        wl.load()
        release(spark)
        load_s = time.perf_counter() - t0
        rec.install()
        marks.append(("prepare+load", time.perf_counter()))
        warm = [runner.execute(build(), "warmup") for build in wl.warmup()]
        marks.append(("warmup", time.perf_counter()))
        cal = calibration(spark, nproc)  # after warm-up: a warm JVM's host speed
        marks.append(("calibration", time.perf_counter()))
        warm_s = sum(r["dur"] for r in warm)
        setup_s = statistics.median(prep) + load_s + warm_s

        measured, spent, start = [], 0.0, time.perf_counter()
        while spent < args.seconds and time.perf_counter() - start < 4 * args.seconds + 60:
            for build in wl.rotation():
                r = runner.execute(build(), "op")
                measured.append(r)
                spent += r["dur"]
        marks.append(("measure", time.perf_counter()))
        stored = wl.stored()
        peak = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm.pid)
        e2e, tail = end_to_end(runner, measured, setup_s, peak, stored)
        layer = per_layer(measured) if args.trace else {}
        if args.trace:
            rec.dump(os.path.join(work_root, f"spans-{args.workload}-seed{args.seed}.json"))
    finally:
        spark.stop()
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        marks.append(("report+stop", time.perf_counter()))

    failed = [r for r in runner.records if r["errors"]]
    print(f"info nproc {nproc}")
    print(f"info calibration_s {cal:.4f}")
    print(f"info inputs {json.dumps([{k: g[k] for k in ('format', 'rows', 'bytes')} for g in generated])}")
    print(f"info setup: prepare_s {json.dumps([round(p, 4) for p in prep])} load_s {load_s:.4f} "
          f"warmup_s {warm_s:.4f}")
    print("info wall_s " + " ".join(f"{b[0]}={b[1] - a[1]:.2f}" for a, b in zip(marks, marks[1:])))
    print(f"info warmup_ops {json.dumps({r['op']: round(r['dur'], 3) for r in warm})}")
    print(f"info measured_ops {len(measured)} in {spent:.4f}s "
          f"{json.dumps({r['op']: round(r['dur'], 3) for r in measured})}")
    print(f"info measured_cpu_s {json.dumps({r['op']: round(r['cpu'], 3) for r in measured})}")
    if tail:
        print(f"info op_tail_s is p{tail[1]:.1f} of n={tail[2]}")
    else:
        print(f"info op_tail_s needs at least 11 ops, run had n={len(measured)}")
    for r in failed:
        print(f"info failed {r['op']}: {'; '.join(r['errors'])}")
    for name, (value, unit) in {**e2e, **layer}.items():
        print(f"metric {name} {'n/a' if value is None else f'{value:.6g}'} {unit}")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    source = layer if args.trace else e2e
    metrics = {k: {"value": source[k][0], "unit": source[k][1]} for k in wanted}
    print(json.dumps({"correct": not failed, "attempted": len(runner.records), "failed": len(failed),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # skip interpreter teardown: finalizers of py4j objects would try to
    # reach the JVM that was already stopped and waited for above
    os._exit(code)
