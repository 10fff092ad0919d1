#!/usr/bin/env python3
"""raquet_spark benchmark: closed-loop workloads on local[nproc].

    python3 perfbench/run.py --workload raster|curate \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke            # tiny sizes, both workloads
    python3 perfbench/run.py --record-digests   # re-record convert digests

Run from the root of a checkout. One driver process, one client issuing
library calls one after another. Set-up (session start, seeded inputs,
one untimed warm-up pass) is timed as ``setup_s``; then whole passes run,
untraced, until ``--seconds`` have elapsed and the workload's minimum
number of passes is done; per-pass figures are medians over them. The
gated per-pass figure is ``run_cpu_s``, the CPU seconds the benchmark's
process tree (driver, Spark JVM, Python workers) spends on a pass: on a
shared host, wall time also counts waiting for CPUs other tenants hold,
so it is reported, ungated, as ``workload.run_wall_s``. With ``--trace 1`` one more
pass runs with a Spark job group per call, and the per-layer table is
read from the status store. Outputs of every pass are checked after the
timed loop. The last stdout line is the JSON result; the full record
(per-span trace, contention evidence) goes to
``.perfbench/results/<workload>-seed<N>-trace<T>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

END_TO_END = [
    ("setup_s", "s"),
    ("run_cpu_s", "s"),
    ("driver_py_peak_rss_mb", "MB"),
]
# ungated workload-level figures, reported with the per-layer metrics:
# wall-clock pass and request times, then the figures only one workload
# can produce (0 where the workload does not produce them)
WORKLOAD_FIGURES = [
    ("workload.run_wall_s", "s"),
    ("workload.request_p50_s", "s"),
    ("workload.request_p90_s", "s"),
    ("workload.request_samples", "count"),
    ("workload.convert_src_mpx_per_s", "Mpx/s"),
    ("workload.stored_bytes_per_src_byte", "ratio"),
    ("workload.lookup_p50_s", "s"),
    ("workload.lookup_p90_s", "s"),
    ("workload.lookup_samples", "count"),
    ("workload.export_mpx_per_s", "Mpx/s"),
    ("workload.curate_docs_per_s", "docs/s"),
    ("workload.dedup_recall", "ratio"),
    ("workload.ann_queries_per_s", "q/s"),
    ("workload.ann_recall_at_10", "ratio"),
    ("trace.overhead_s", "s"),
    ("trace.span_coverage", "ratio"),
]


def _environment(work: str) -> int:
    """Keep every file Spark and Python write inside the checkout, and
    size the session to this machine. Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        # keep every job of a pass in the status store
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000",
        "pyspark-shell",
    ])
    return cpus


def _start_session(work: str, app: str):
    """The library's session on local[nproc], its files kept in ``work``."""
    cpus = _environment(work)
    from raquet_spark.session import get_spark

    spark = get_spark(app, master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def _reset_peak_rss() -> bool:
    """Reset the kernel's peak-RSS mark (Linux), so the peak read after
    the timed passes covers them and not input generation."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


def _peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant (the Spark JVM, its Python workers), plus what their
    exited children left behind. Time spent waiting for a CPU is not in
    it, nor, on a kernel with steal-time accounting, the time the host
    takes the virtual CPUs away."""
    stats, children = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        pid = int(d)
        stats[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        children.setdefault(int(fields[1]), []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def run_workload(name, seed, seconds, trace, profile="full", t_start=None, spark=None,
                 warmup=True):
    """One benchmark run. Returns (result line dict, full record)."""
    t_start = time.perf_counter() if t_start is None else t_start
    work = os.path.join(STATE, f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    own_session = spark is None
    load1 = os.getloadavg()[0]

    from spans import Tracer, layer_metric_names
    from workloads import WORKLOADS, Failures, quantile

    from bench import spark_floor_probe

    t0 = time.perf_counter()
    if own_session:
        spark = _start_session(work, "perfbench")
    session_s = time.perf_counter() - t0
    cpus = len(os.sched_getaffinity(0))
    phases = {"session_s": session_s}
    session_span = {"id": -1, "layer": "session", "op": "get_spark", "wall_s": session_s,
                    "epoch0": time.time() - session_s, "epoch1": time.time()}

    fails = Failures()
    wl = WORKLOADS[name](spark, work, seed, profile)
    wl.setup()
    phases["inputs_s"] = time.perf_counter() - t0 - session_s
    if warmup:
        # untimed and unchecked: a call that raises still counts as failed
        warm = wl.run_pass(Tracer(spark, traced=False), fails, warmup=True)
    setup_s = time.perf_counter() - t_start
    phases["warmup_s"] = time.perf_counter() - t0 - session_s - phases["inputs_s"]
    if warmup:
        wl.cleanup(warm)

    probe_start = spark_floor_probe(spark, n=3)
    rss_reset = _reset_peak_rss()
    tr = Tracer(spark, traced=False)
    passes = []
    t_loop = time.perf_counter()
    while True:
        t, c = time.perf_counter(), _tree_cpu_s()
        rec = wl.run_pass(tr, fails)
        passes.append((rec, time.perf_counter() - t, _tree_cpu_s() - c))
        if time.perf_counter() - t_loop >= seconds and len(passes) >= wl.min_passes:
            break
    rss = _peak_rss_mb()
    probe_end = spark_floor_probe(spark, n=3)

    traced = None
    if trace:
        trt = Tracer(spark, traced=True)
        t = time.perf_counter()
        rec_t = wl.run_pass(trt, fails, evidence=True)
        traced_s = time.perf_counter() - t
        trt.spans.append(session_span)
        table, spans = trt.layer_table()
        traced = {"rec": rec_t, "run_s": traced_s, "table": table, "spans": spans}

    for i, (rec, _, _) in enumerate(passes):
        wl.check(rec, fails, full=(i == len(passes) - 1))
    if traced:
        wl.check(traced["rec"], fails)

    recs = [rec for rec, _, _ in passes]
    walls = [w for _, w, _ in passes]
    pass_cpu = [c for _, _, c in passes]
    requests = [x for rec in recs for x in rec["requests"]]
    run_s = statistics.median(walls)
    e2e = {
        "setup_s": setup_s,
        "run_cpu_s": statistics.median(pass_cpu),
        "driver_py_peak_rss_mb": rss,
    }
    figures = {k: 0.0 for k, _ in WORKLOAD_FIGURES}
    figures.update({
        "workload.run_wall_s": run_s,
        "workload.request_p50_s": quantile(requests, 0.5),
        "workload.request_p90_s": quantile(requests, 0.9),
        "workload.request_samples": float(len(requests)),
    })
    found, notes = wl.figures(recs)
    figures.update(found)

    if traced:
        layer = {f"{lname}.{key}": val for lname, row in traced["table"].items()
                 for key, val in row.items()}
        layer["operators.region_stats.rows_read_per_tile_hit"] = 0.0
        layer.update(wl.layer_figures(traced["spans"]))
        covered = sum(s["wall_s"] for s in traced["spans"] if s["layer"] != "session")
        figures["trace.overhead_s"] = traced["run_s"] - run_s
        figures["trace.span_coverage"] = covered / traced["run_s"]
        layer.update(figures)
        out_metrics = {k: {"value": layer[k], "unit": u}
                       for k, u in layer_metric_names() + WORKLOAD_FIGURES}
    else:
        out_metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}

    line = {
        "correct": fails.failed == 0,
        "attempted": fails.attempted,
        "failed": fails.failed,
        "metrics": out_metrics,
    }
    import pyspark

    record = {
        "workload": name, "seed": seed, "seconds": seconds, "traced": bool(trace),
        "profile": profile,
        "end_to_end": e2e,
        "figures": figures,
        "notes": notes,
        "passes": len(passes), "pass_s": walls, "pass_cpu_s": pass_cpu, "requests_s": requests,
        "setup_phases": phases,
        "evidence": {
            "load1_at_start": load1, "nproc": cpus, "spark_version": pyspark.__version__,
            "spark_floor_probe_start": probe_start, "spark_floor_probe_end": probe_end,
            "peak_rss_reset": rss_reset,
        },
        "failures": fails.messages,
    }
    if traced:
        record["trace"] = {
            "run_s_traced": traced["run_s"], "run_s_untraced": run_s,
            "overhead_s": traced["run_s"] - run_s,
            "span_coverage": figures["trace.span_coverage"],
            "layers": traced["table"],
            "plans": traced["rec"].get("plans", {}),
            "spans": traced["spans"],
        }
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    out = os.path.join(STATE, "results", f"{name}-seed{seed}-trace{int(bool(trace))}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for rec in recs:
        wl.cleanup(rec)
    if own_session:
        _stop(spark)
    shutil.rmtree(work, ignore_errors=True)
    return line, record


def _stop(spark):
    """Stop the session and wait for the JVM the gateway launched."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None):
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["raster", "curate"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record-digests", action="store_true")
    args = ap.parse_args(argv)
    if args.record_digests:
        return record_digests()
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    line, record = run_workload(args.workload, args.seed, args.seconds, args.trace, t_start=t_start)
    for msg in record["failures"]:
        print(msg, file=sys.stderr)
    print(json.dumps(line))
    return 0


def smoke():
    """Every workload at tiny sizes in one session: each must pass its
    checks and emit every metric, traced and untraced."""
    t0 = time.perf_counter()
    spark = _start_session(os.path.join(STATE, "smoke"), "perfbench-smoke")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ok = True
    try:
        for name in ("raster", "curate"):
            line, record = run_workload(name, 1, 0, 1, profile="smoke", spark=spark, warmup=False)
            want = {m["name"]: m["unit"] for m in spec["per_layer"]}
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            e2e = record["end_to_end"]
            problems = record["failures"][:]
            if got != want:
                problems.append(f"per-layer metrics differ from BENCHMARK.json: {set(got) ^ set(want)}")
            want_e2e = {m["name"] for m in spec["end_to_end"]}
            if set(e2e) != want_e2e or not all(v > 0 for v in e2e.values()):
                problems.append(f"end-to-end metrics missing or zero: {e2e}")
            ok &= line["correct"] and not problems
            print(f"smoke {name}: correct={line['correct']} attempted={line['attempted']} "
                  f"failed={line['failed']} end_to_end={json.dumps(e2e)}")
            for p in problems:
                print(f"  {p}")
    finally:
        _stop(spark)
        shutil.rmtree(os.path.join(STATE, "smoke"), ignore_errors=True)
    print(f"smoke {'passed' if ok else 'FAILED'} in {time.perf_counter() - t0:.1f} s")
    return 0 if ok else 1


def record_digests():
    """Run one convert pass per input variant and profile and record the
    decoded-pixel digest of every output zoom in digests.json."""
    from workloads import CONVERT_VARIANTS, DIGESTS, Convert, Failures

    from spans import Tracer

    spark = _start_session(os.path.join(STATE, "record"), "perfbench-record")
    table = {}
    try:
        for profile in ("smoke", "full"):
            for v in range(CONVERT_VARIANTS):
                work = os.path.join(STATE, "record", f"{profile}-{v}")
                wl = Convert(spark, work, v, profile)
                wl.setup()
                fails = Failures()
                rec = wl.run_pass(Tracer(spark, traced=False), fails)
                if fails.failed:
                    raise RuntimeError("\n".join(fails.messages))
                table.setdefault(profile, {})[str(v)] = wl.digests(rec)
                shutil.rmtree(work, ignore_errors=True)
                print(f"recorded {profile} variant {v}", flush=True)
    finally:
        _stop(spark)
        shutil.rmtree(os.path.join(STATE, "record"), ignore_errors=True)
    with open(DIGESTS, "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.path[:0] = [ROOT, HERE]
    sys.exit(main())
