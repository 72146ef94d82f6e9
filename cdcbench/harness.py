"""One benchmark run: the session, the timed-op loop, oracle checks and
the result/sidecar assembly shared by the three workloads."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import subprocess
import time
from contextlib import contextmanager

import host
from metrics import END_TO_END, PER_LAYER
from tracing import NullTracer, Tracer


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 1])."""
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))]


TAIL_Q = 0.9


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) at a fixed p90.  A run holds tens of samples
    per op kind, too few for a percentile with ten samples beyond it above
    the median; a fixed percentile keeps runs with different counts
    comparable."""
    return percentile(xs, TAIL_Q), TAIL_Q, len(xs)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Run:
    """State of one run.  Timed ops go through ``timed``; an oracle check
    that fails after an op marks that op failed."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.out_dir = os.path.join(root, ".cdcbench", "results")
        self.work = os.path.join(root, ".cdcbench", "work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        os.makedirs(self.out_dir, exist_ok=True)
        self.cores = len(os.sched_getaffinity(0))  # nproc
        self.spark = None
        self.tracer = NullTracer()
        self.samples: dict[str, list[float]] = {}
        self.raw: list[dict] = []  # every timed op, in order
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.info: dict = {"input_digests": {}}
        self.layer: dict[str, float] = {}
        self.e2e: dict[str, tuple[float, str]] = {}
        self.detail: dict[str, tuple[float, str]] = {}
        self._op_failed = False
        self.t_origin = time.perf_counter()

    # --- session ---------------------------------------------------------
    def start(self) -> float:
        self.spark, start_s = host.start_session(self.root, self.work, self.cores)
        self.tree = host.ProcessTree(host.jvm_pid(self.spark))
        if self.trace:
            self.tracer = Tracer(self.spark, self.tree, self.t_origin)
        self.info["session_start_s"] = start_s
        self.info["master"] = self.spark.sparkContext.master
        self.info["driver_memory"] = self.spark.sparkContext.getConf().get("spark.driver.memory")
        return start_s

    def stop(self) -> None:
        if self.spark is not None:
            self.info["stop_s"] = host.stop_session(self.spark)
            self.spark = None
        self.mark("jvm_stopped")
        shutil.rmtree(self.work, ignore_errors=True)

    def discard(self, path: str) -> None:
        """Delete state no later phase reads.  Done as soon as possible:
        on a disk that discards freed blocks, deleting data that has been
        written back costs seconds per 100 MB, and young files are not
        written back yet."""
        shutil.rmtree(path, ignore_errors=True)

    # --- ops and checks --------------------------------------------------
    @contextmanager
    def timed(self, kind: str, **attrs):
        """A measured op.  Yields the span record; its duration lands in
        ``samples[kind]`` and the raw op log."""
        self.attempted += 1
        self._op_failed = False
        t0 = time.perf_counter()
        with self.tracer.span(kind, **attrs) as rec:
            yield rec
        dt = time.perf_counter() - t0
        self.samples.setdefault(kind, []).append(dt)
        self.raw.append({"op": kind, "t": round(t0 - self.t_origin, 4), "dur": round(dt, 6), **attrs})

    def call(self, name: str, fn, *args, **kwargs):
        """A public engine call inside the current op: its own span."""
        with self.tracer.span(name):
            return fn(*args, **kwargs)

    def check(self, ok: bool, what: str) -> None:
        """Record an oracle check of the op just timed."""
        if ok:
            return
        self.failures.append(what)
        if not self._op_failed:
            self._op_failed = True
            self.failed += 1

    def final_check(self, ok: bool, what: str) -> None:
        """A check of the end state: counted as one more attempted op."""
        self.attempted += 1
        self._op_failed = False
        self.check(ok, what)

    def mark(self, phase: str) -> None:
        """Record when a phase of the run ended (seconds since start)."""
        self.info.setdefault("phases", {})[phase] = round(time.perf_counter() - self.t_origin, 3)

    def units(self, nominal_s: float, minimum: int = 1) -> int:
        """How many units of work (drains, op blocks, cycles) the measured
        phase runs: ``--seconds`` worth at the unit's time on a 4-core
        host.  The count depends on ``--seconds`` alone, never on how fast
        this run goes, so every run of a workload does the same work."""
        return max(minimum, round(self.seconds / nominal_s))

    # --- metrics ---------------------------------------------------------
    def report(self, name: str, value: float, unit: str, *, e2e: bool = False) -> None:
        (self.e2e if e2e else self.detail)[name] = (float(value), unit)

    def report_tail(self, name: str, xs: list[float], *, e2e: bool = False) -> None:
        v, q, n = tail(xs)
        self.report(name, v, "s", e2e=e2e)
        self.info.setdefault("tails", {})[name] = {"percentile": q, "samples": n}

    def spans(self, name: str) -> list[dict]:
        return [s for s in self.tracer.spans if s["name"] == name and "dur" in s]

    # --- output ----------------------------------------------------------
    def finish(self, measured: tuple[float, float]) -> dict:
        self.mark("checked")
        self.info["process.pinned_mb_end"], self.info["process.pinned_rdds_end"] = host.pinned(
            self.spark
        )
        self.layer["process.pinned_mb_end"] = self.info["process.pinned_mb_end"]
        self.layer["process.pinned_rdds_end"] = float(self.info["process.pinned_rdds_end"])
        self.layer["process.rss_peak_mb"] = self.tree.rss_peak_mb()
        self.info["cpu_s_end"] = self.tree.cpu()
        metrics = (
            {k: {"value": self.e2e[k][0], "unit": u} for k, u in END_TO_END}
            if not self.trace
            else {k: {"value": float(self.layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER}
        )
        self.sidecar = {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": self.trace,
            "commit": _commit(self.root),
            "engine_digest": _engine_digest(self.root),
            "nproc": self.cores,
            "measured_s": measured[1] - measured[0],
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in self.e2e.items()},
            "detail": {k: {"value": v, "unit": u} for k, (v, u) in self.detail.items()},
            "per_layer": self.layer,
            "failures": self.failures[:50],
            "raw_ops": self.raw,
        }
        self.mark("finished")
        if self.trace:
            self.sidecar["span_coverage"] = self.tracer.coverage(*measured)
            self.sidecar["tracing_overhead"] = self._overhead()
            self.sidecar["spans"] = self.tracer.spans
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def write_sidecar(self) -> str:
        path = os.path.join(
            self.out_dir, f"{self.workload}-seed{self.seed}-trace{int(self.trace)}.json"
        )
        with open(path, "w") as f:
            json.dump({**self.sidecar, **self.info}, f, indent=1, default=str)
        return path

    def _overhead(self) -> dict:
        """Traced minus untraced end-to-end, against an untraced result in
        the results directory of the same code (commit and engine digest),
        ``--seconds`` and input sizes: the one of this seed if there is
        one, else the newest.  Without one the overhead is unavailable."""
        want = json.loads(json.dumps({
            "commit": self.sidecar["commit"],
            "engine_digest": self.sidecar["engine_digest"],
            "seconds": self.seconds,
            "sizes": self.info.get("sizes"),
        }))
        found = []
        for f in os.listdir(self.out_dir):
            if not (f.startswith(self.workload + "-seed") and f.endswith("-trace0.json")):
                continue
            path = os.path.join(self.out_dir, f)
            try:
                with open(path) as fh:
                    d = json.load(fh)
            except (OSError, ValueError):
                continue
            if all(d.get(k) == v for k, v in want.items()):
                found.append((d.get("seed") == self.seed, os.path.getmtime(path), f, d))
        if not found:
            return {"note": "no untraced result of the same code, seconds and sizes"}
        _, _, base, d = max(found, key=lambda x: x[:3])
        untraced = d["end_to_end"]
        out: dict = {"against": base}
        for k, (v, _) in self.e2e.items():
            if untraced.get(k, {}).get("value"):
                b = untraced[k]["value"]
                out[k] = {"traced": v, "untraced": b, "delta": v - b, "share": (v - b) / b}
        return out


def _engine_digest(root: str) -> str:
    """sha256 over the engine's source files: identifies the code measured
    where no git metadata is available."""
    h = hashlib.sha256()
    base = os.path.join(root, "cdc_demo_spark")
    for d, dirs, files in sorted(os.walk(base)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, base).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _commit(root: str) -> str | None:
    try:
        r = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except OSError:
        return None
    return r.stdout.strip() or None
