"""Shared measurement loop, result checks and metric reduction."""

from __future__ import annotations

import contextlib
import sys
import time
import traceback

import numpy as np
import pandas as pd

from spans import SparkCounters, python_nodes

FLOAT_RTOL, FLOAT_ATOL = 1e-9, 1e-6
MIN_UNITS = 2


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, ``100 * (1 - 10 / n)``; the median when there are
    fewer than twenty samples."""
    n = len(samples)
    pct = max(50.0, 100.0 * (1 - 10 / n)) if n else 50.0
    return pct, float(np.percentile(samples, pct)) if n else 0.0


def median(values) -> float:
    return float(np.median(values)) if len(values) else 0.0


def frames_equal(got: pd.DataFrame, want: pd.DataFrame, order=None, loose=()) -> bool:
    """Compare a collected result with its oracle. Floats compare with a
    relative tolerance. With ``order`` set the rows compare in the order
    given (the query defines it), otherwise as a multiset. ``loose``
    columns are not compared: they may differ only on rows whose other
    columns agree (ties at the rounding precision of a score)."""
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        print(f"# mismatch: shape {got.shape} {list(got.columns)} vs {want.shape} "
              f"{list(want.columns)}", file=sys.stderr)
        return False
    got, want = got.reset_index(drop=True), want.reset_index(drop=True)
    if order is None:
        keys = [c for c in got.columns if c not in loose]
        got = got.sort_values(keys, kind="mergesort").reset_index(drop=True)
        want = want.sort_values(keys, kind="mergesort").reset_index(drop=True)
    for c in got.columns:
        a, b = got[c], want[c]
        if c in loose:
            continue
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            ok = np.allclose(a.astype(float), b.astype(float), rtol=FLOAT_RTOL,
                             atol=FLOAT_ATOL, equal_nan=True)
        else:
            ok = (a.astype(str).to_numpy() == b.astype(str).to_numpy()).all()
        if not ok:
            print(f"# mismatch in column {c}", file=sys.stderr)
            return False
    return True


class Workload:
    """One benchmark workload. Subclasses generate inputs, prepare what
    the first unit needs and run one *unit* of work (a query round, a
    pipeline run, a maintenance cycle) per call of :meth:`run_unit`; the
    base class owns the closed loop, op timing, correctness accounting
    and Spark counter windows."""

    name = ""
    why = ""
    # per-layer metric -> op span name whose per-op durations it reports
    op_span_metrics: dict[str, str] = {}

    def __init__(self, spark, tracer, work_dir: str, cores: int):
        self.spark = spark
        self.tracer = tracer
        self.work_dir = work_dir
        self.data_dir = f"{work_dir}/data"
        self.cores = cores
        self.counters = None
        self.attempted = 0
        self.failed = 0
        self.ops: list[dict] = []  # {"unit", "kind", "s", "ok", "traced"}
        self.units: list[dict] = []
        self.unit_index = -1
        self.traced = False
        self.recording = False  # ops count only inside measure()
        self.layer: dict[str, list[float]] = {}

    # -- hooks ---------------------------------------------------------------
    def setup_inputs(self, rng) -> dict[str, dict]:
        raise NotImplementedError

    def prepare(self) -> None:
        """Once, after the inputs exist: state the first unit needs."""

    def run_unit(self, rng) -> None:
        raise NotImplementedError

    def issue_metrics(self) -> dict[str, tuple[float, str]]:
        """The workload's own named end-to-end metrics (name -> value, unit)."""
        return {}

    def notes(self) -> list[str]:
        """Extra report lines."""
        return []

    # -- op accounting ---------------------------------------------------------
    @contextlib.contextmanager
    def timed(self, kind: str):
        """Time one client operation. Inside a traced unit the op runs in a
        span named ``kind`` under its own Spark job group, and the jobs it
        launched are read back from the status store afterwards."""
        traced = self.traced
        if traced:
            label = f"u{self.unit_index}/{kind}/{len(self.ops)}"
            self.tracer.op = label
            self.counters.group(label)
            before = self.counters.mark()
        start = time.perf_counter()
        with self.tracer.span(kind):
            yield
        self._last = {"kind": kind, "s": time.perf_counter() - start}
        if traced:
            self._last["spark"] = self.counters.window(before, self.counters.mark())

    def attempt(self, kind: str, fn, *args, **kwargs):
        """Run ``fn`` (which times its op with :meth:`timed`) as one
        attempted op; an exception or a False result counts as failed.
        Returns fn's result, or None when it raised."""
        self._last = {"kind": kind, "s": 0.0}
        try:
            out = fn(*args, **kwargs)
            ok = out is not False
        except Exception:  # an op failure is a result, never a crash
            traceback.print_exc(file=sys.stderr)
            out, ok = None, False
        if self.recording:
            self.attempted += 1
            self.ops.append({**self._last, "unit": self.unit_index, "ok": True,
                             "traced": self.traced})
            if not ok:
                self.mark_failed(kind)
        return out

    def mark_failed(self, why: str) -> None:
        """Count the last recorded op as failed (an error or a wrong result)."""
        print(f"# FAILED op {self.ops[-1]['kind'] if self.ops else '?'} in unit "
              f"{self.unit_index}: {why}", file=sys.stderr)
        if self.recording and self.ops and self.ops[-1]["ok"]:
            self.ops[-1]["ok"] = False
            self.failed += 1

    def op_counters(self) -> dict[str, dict]:
        """Spark counters of the first op of each kind in the first traced
        unit."""
        first = next(u["index"] for u in self.units if u["traced"])
        out: dict[str, dict] = {}
        for o in self.ops:
            if o["unit"] == first and "spark" in o and o["kind"] not in out:
                out[o["kind"]] = o["spark"]
        return out

    def close(self) -> None:
        pass

    def note(self, metric: str, value: float) -> None:
        """A per-layer observation in the traced unit; several
        observations of one metric reduce to their median."""
        if self.traced:
            self.layer.setdefault(metric, []).append(value)

    def note_frame(self, frame) -> None:
        if self.traced:
            self._py_nodes += python_nodes(frame.df)

    # -- closed loop -----------------------------------------------------------
    def measure(self, seed: int, seconds: float, trace: bool) -> None:
        """Run whole units for at least ``seconds`` and at least
        ``MIN_UNITS`` units. Unit ``k`` draws its inputs from ``(seed, k)``
        only, so its content does not depend on timing. With ``trace``
        exactly three units run and only unit 1 is traced: unit 0 carries
        the JIT warm-up, and the overhead compares unit 1 with the
        untraced unit 2."""
        start = time.perf_counter()
        self.recording = True
        k = 0
        while k < (3 if trace else MIN_UNITS) or (
                not trace and time.perf_counter() - start < seconds):
            self.unit_index = k
            self.traced = self.tracer.enabled = trace and k == 1
            if self.traced:
                self.counters = self.counters or SparkCounters(self.spark)
                self.instrument()
            self._run_one(np.random.default_rng([seed, k]))
            if self.traced:
                self.tracer.uninstrument()
            k += 1
        self.traced = self.recording = self.tracer.enabled = False

    def instrument(self) -> None:
        """Install call spans on the library's public functions."""
        import cuplyr_spark.agg as agg
        import cuplyr_spark.functions.expr as expr
        import cuplyr_spark.pipeline.dedup as dedup
        import cuplyr_spark.pipeline.packing as packing
        import cuplyr_spark.pipeline.similarity as similarity
        import cuplyr_spark.pipeline.text as text
        import cuplyr_spark.sources.connectors as connectors
        import cuplyr_spark.sources.readers as readers
        import cuplyr_spark.sources.views as views
        from cuplyr_spark.frame import Frame

        tr = self.tracer
        tr.instrument(Frame, "frame")
        tr.instrument(expr, "functions.expr")
        tr.instrument(agg, "agg")
        tr.instrument(readers, "sources.readers")
        tr.instrument(connectors, "sources.connectors")
        tr.instrument(views, "sources.views")
        tr.instrument(text, "pipeline.text")
        tr.instrument(dedup, "pipeline.dedup")
        tr.instrument(packing, "pipeline.packing")
        tr.instrument(similarity, "pipeline.similarity")

    def _run_one(self, rng) -> None:
        n_ops = len(self.ops)
        self._py_nodes = 0
        before = self.counters.mark() if self.traced else None
        t0 = time.perf_counter()
        self.run_unit(rng)
        wall = time.perf_counter() - t0
        ops = self.ops[n_ops:]
        unit = {"index": self.unit_index, "traced": self.traced, "wall": wall,
                "busy": sum(o["s"] for o in ops), "ops": len(ops)}
        if self.traced:
            after = self.counters.mark()
            unit["spark"] = self.counters.window(before, after)
            unit["spark"]["exec_s"] = self.counters.exec_seconds(before, after)
            unit["python_nodes"] = self._py_nodes
        self.units.append(unit)

    # -- reduction -------------------------------------------------------------
    def kind_medians(self, traced: bool = False, units=None) -> dict[str, tuple[float, int]]:
        """Per op kind: (median latency, ops of that kind per unit), over
        the successful ops of the selected units."""
        chosen = [o for o in self.ops if o["traced"] == traced
                  and (units is None or o["unit"] in units)]
        by_kind: dict[str, list[float]] = {}
        for o in chosen:
            if o["ok"]:
                by_kind.setdefault(o["kind"], []).append(o["s"])
        n_units = len({o["unit"] for o in chosen})
        return {k: (median(v), round(len(v) / n_units)) for k, v in by_kind.items()}

    def unit_seconds(self, traced: bool = False, units=None) -> float:
        """``unit_s``: the median over the selected units of a unit's busy
        time (the sum of its op latencies; checks are not timed)."""
        return median([u["busy"] for u in self.units if u["traced"] == traced
                       and (units is None or u["index"] in units)])

    def per_layer(self, session_s: float) -> dict[str, float]:
        """Per-layer metrics of the traced unit. Its content is fixed by
        the seed, so its work counters repeat exactly between runs."""
        tr = self.tracer
        u = next(u for u in self.units if u["traced"])
        red = tr.reduce()
        reads = red.get("sources.readers.read_parquet", {"incl_s": 0.0, "calls": 0})
        sp = u["spark"]
        out = {
            "session.start_s": session_s,
            "sources.readers.read_parquet_s": reads["incl_s"],
            "sources.readers.calls": reads["calls"],
            "frame.plan_s": plan_seconds(tr.spans),
            "frame.verb_calls": sum(r["calls"] for k, r in red.items() if k.startswith("frame.")),
            "spark.busy_ratio": sp["executor_run_s"] / (u["wall"] * self.cores),
            "python.udf_nodes": u["python_nodes"],
            **{f"spark.{k}": v for k, v in sp.items()},
        }
        for metric, span in self.op_span_metrics.items():
            out[metric] = median(tr.durations(span))
        for metric, vals in self.layer.items():
            out[metric] = vals[0] if len(vals) == 1 else median(vals)
        return out


# Frame methods that execute a plan rather than build one.
EXEC_VERBS = {"compute", "collect", "collect_rows", "pull", "show", "glimpse",
              "n_groups", "dim", "as_eager", "show_query", "explain_str"}
PLAN_LAYERS = ("frame.", "functions.expr.", "agg.")


def plan_seconds(spans: list[dict]) -> float:
    """Inclusive time of the outermost plan-building calls into frame,
    functions.expr and agg."""
    total = 0.0
    for s in spans:
        name = s["name"]
        if not name.startswith(PLAN_LAYERS) or name.split(".")[-1] in EXEC_VERBS:
            continue
        p = s["parent"]
        while p is not None and not spans[p]["name"].startswith(PLAN_LAYERS):
            p = spans[p]["parent"]
        if p is None:
            total += s["end"] - s["start"]
    return total
