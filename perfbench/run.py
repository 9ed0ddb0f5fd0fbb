#!/usr/bin/env python3
"""Repository benchmark: drive cuplyr_spark through its public functions
from one process at ``local[<cores>]``, one client in a closed loop.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 25 --trace 0

Run from the root of a checkout (``cuplyr_spark/`` next to
``perfbench/``). A workload runs whole *units* of work (a query round, a
pipeline run, a maintenance cycle) for at least ``--seconds`` and at
least two units; the first unit carries the JVM warm-up. The last stdout
line is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``
(``setup_s``: process start to inputs generated and the workload
prepared, inputs generated three times and the median kept; ``unit_s``:
the median unit's summed op latency), with ``--trace 1`` its per-layer
metrics. Lines before it (prefixed ``#``) give the inputs, the reason the
workload exists, the per-op medians, the workload's own named metrics
and, when traced, each span's self time and the tracing overhead. Scratch data lives in a fresh
directory under ``.perfbench_work/`` that is removed at exit.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {
    "analytics": ("analytics", "Analytics"),
    "llm_pipeline": ("llm_pipeline", "LlmPipeline"),
    "lakehouse": ("lakehouse", "Lakehouse"),
}
INPUT_REPEATS = 3
SCRATCH = ".perfbench_work"


def _driver_mem() -> str:
    """A quarter of host RAM, capped at 4g: the session's own default
    (32g) exceeds small hosts."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"


def _prepare_env(work: str) -> dict:
    """Process environment for the session and its Python workers; must
    run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["CUPLYR_SPARK_DRIVER_MEM"] = _driver_mem()
    os.environ["CUPLYR_SPARK_LOCAL_DIR"] = os.path.join(work, "spark-local")
    # every JVM spark-submit starts (the launcher too) keeps its temp files
    # and its perf-counter file out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    return {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(args, work: str, cores: int, spec: dict) -> dict:
    conf = _prepare_env(work)
    import numpy as np

    sys.path.insert(0, ROOT)
    import cuplyr_spark as cs
    from spans import Tracer

    t = time.perf_counter()
    spark = cs.get_session(app_name=f"perfbench-{args.workload}", cpus=cores, extra_conf=conf)
    session_s = time.perf_counter() - t
    session_up = time.perf_counter() - T0

    mod, cls = WORKLOADS[args.workload]
    tracer = Tracer()
    wl = getattr(importlib.import_module(mod), cls)(spark, tracer, work, cores)
    gen = []
    for _ in range(INPUT_REPEATS):
        t = time.perf_counter()
        sizes = wl.setup_inputs(np.random.default_rng([args.seed, 0]))
        gen.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.prepare()
    prep = time.perf_counter() - t
    setup_s = session_up + statistics.median(gen) + prep

    wl.measure(args.seed, args.seconds, args.trace == 1)
    wl.close()

    print(f"# workload {wl.name}: {wl.why}")
    print(f"# local[{cores}], driver memory {os.environ['CUPLYR_SPARK_DRIVER_MEM']}, "
          f"seed {args.seed}, {len(wl.units)} units, {len(wl.ops)} ops")
    for name, s in sizes.items():
        print(f"# input {name}: rows={s['rows']} bytes={s['bytes']}")
    print(f"# setup_s {setup_s:.4f} s = process->session {session_up:.4f} + inputs "
          f"{statistics.median(gen):.4f} (median of {', '.join(f'{g:.4f}' for g in gen)}) "
          f"+ prepare {prep:.4f}")
    for u in wl.units:
        print(f"# unit {u['index']}{' (traced)' if u['traced'] else ''}: {u['ops']} ops, "
              f"busy {u['busy']:.4f} s, wall {u['wall']:.4f} s")
    for kind, (med, per_unit) in wl.kind_medians().items():
        print(f"# op {kind}: {per_unit} per unit, median {med:.4f} s")
    named = {"setup_s": (setup_s, "s"), "unit_s": (wl.unit_seconds(), "s"),
             **wl.issue_metrics(),
             "failed_frac": (wl.failed / max(1, wl.attempted), "ratio")}
    for k, (v, unit) in named.items():
        print(f"# metric {k} = {v:.6g} {unit}")
    for line in wl.notes():
        print(f"# {line}")

    if args.trace:
        values = traced_report(wl, tracer, session_s, args)
        section = "per_layer"
    else:
        values = {k: v for k, (v, _) in named.items()}
        section = "end_to_end"
    metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
               for m in spec[section]}
    return {"correct": wl.failed == 0, "attempted": wl.attempted,
            "failed": wl.failed, "metrics": metrics}


def traced_report(wl, tracer, session_s: float, args) -> dict:
    """Print the traced unit's self times, per-op Spark counters and the
    tracing overhead; write the spans out; return the per-layer values."""
    base, traced = wl.unit_seconds(units={2}), wl.unit_seconds(traced=True)
    print(f"# tracing overhead unit_s: traced {traced:.4f} - untraced {base:.4f} "
          f"= {traced - base:+.4f} s ({(traced - base) / base:+.1%})")
    for name, r in sorted(tracer.reduce().items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"# span {name}: self {r['self_s']:.4f} s, incl {r['incl_s']:.4f} s, "
              f"calls {r['calls']}")
    for kind, c in wl.op_counters().items():
        print(f"# spark per op {kind}: " + " ".join(f"{k}={v:.6g}" for k, v in c.items()))
    values = wl.per_layer(session_s)
    for k, v in values.items():
        print(f"# layer {k} = {v:.6g}")
    path = os.path.join(ROOT, SCRATCH, f"spans-{args.workload}-seed{args.seed}.json")
    tracer.dump(path)
    print(f"# spans written to {os.path.relpath(path, ROOT)}")
    return values


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(k) for k in f.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def stop_spark() -> None:
    """Stop the session, then wait for the JVM and every process it
    started (the Python worker daemon and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = _descendants(proc.pid) if proc is not None else []
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in children:
        while time.monotonic() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "cuplyr_spark", "__init__.py")):
        print(f"perfbench: no cuplyr_spark package next to {HERE}; run from a checkout",
              file=sys.stderr)
        return 2
    spec = _load_spec()
    cores = len(os.sched_getaffinity(0))
    scratch = os.path.join(ROOT, SCRATCH)
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    try:
        result = run(args, work, cores, spec)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
