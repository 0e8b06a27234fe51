"""Shared pieces of the benchmark: metric declarations, statistics, window
probes, the span tracer and the result line.

Every metric the benchmark can print is declared here once, with its unit and
direction; ``run.py`` prints exactly these names, and the tests check that
they match ``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time

# name -> (unit, better)
END_TO_END = {
    "docs_per_s": ("1/s", "higher"),
    "doc_p50_ms": ("ms", "lower"),
    "doc_p99_ms": ("ms", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "setup_s": ("s", "lower"),
}

PER_LAYER = {
    "encoding.us_per_doc": ("us", "lower"),
    "encoding.src_bom": ("count", "higher"),
    "encoding.src_transport": ("count", "higher"),
    "encoding.src_meta": ("count", "higher"),
    "encoding.src_default": ("count", "higher"),
    "parse.us_per_doc": ("us", "lower"),
    "parse.tokens_per_doc": ("count", "lower"),
    "parse.raised_LexerError": ("count", "lower"),
    "parse.raised_ParseQuirkError": ("count", "lower"),
    "parse.raised_other": ("count", "lower"),
    "extract.us_per_doc": ("us", "lower"),
    "extract.nodes_per_doc": ("count", "lower"),
    "serialize.us_per_doc": ("us", "lower"),
    "serialize.dom_bytes": ("B/doc", "lower"),
    "udf_body.us_per_doc": ("us", "lower"),
    "scan.s": ("s", "lower"),
    "boundary.s": ("s", "lower"),
    "boundary.bytes_in": ("B", "lower"),
    "boundary.bytes_out": ("B", "lower"),
    "stage.s": ("s", "lower"),
    "stage.unattributed_frac": ("frac", "lower"),
    "shuffle.s": ("s", "lower"),
    "shuffle.rows_max_over_mean": ("ratio", "lower"),
    "resume.read_state_s": ("s", "lower"),
    "resume.skipped_docs": ("count", "higher"),
    "sink.append_results_s": ("s", "lower"),
    "sink.append_progress_s": ("s", "lower"),
    "sink.append_state_s": ("s", "lower"),
    "sink.bytes_written": ("B", "lower"),
    "trace.overhead_frac": ("frac", "lower"),
}

# a seeded hostile document must return or raise a documented error within
# this many seconds; anything slower counts as failed
HOSTILE_TIME_BOUND_S = 5.0


def nproc() -> int:
    """Cores this process may run on (the benchmark never asks for more)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def median(values):
    return statistics.median(values)


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def spin_probe(n: int = 2_000_000) -> float:
    """Fixed single-thread integer spin, in seconds: a thermometer for the
    measuring window (CPU steal or a co-tenant inflates it)."""
    x = 0
    t0 = time.perf_counter()
    for _ in range(n):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    return time.perf_counter() - t0


# the speed probe: a short spin before and after every timed unit of work
PROBE_ITERS = 300_000
# the probe's time on a quiet core of the reference box (4-core VM,
# 2.1 GHz); timings are scaled to what they would be at that speed
PROBE_REF_S = 0.035


class SpeedProbe:
    """Machine-speed calibration for timed work.  On a shared host
    a core slows down and speeds up by tens of percent over seconds to
    minutes, whatever this program does.  A fixed spin loop run right before
    and right after each unit of work measures that speed, and ``scale()``
    turns the unit's wall time into the time it would have taken at the
    reference speed.  Measured on hostile_local, this cut the run-to-run
    spread of docs_per_s from about 0.23 to 0.07 (interquartile range over
    median, eight runs).  On crawl_direct's Spark passes it widens the
    pass-to-pass spread within a run, but it narrows the run-to-run spread
    of the figures a run reports (perfbench/NOTE.md gives the numbers)."""

    def __init__(self):
        self.last = spin_probe(PROBE_ITERS)

    def scale(self) -> float:
        """Probe again; the factor for the unit since the previous probe."""
        now = spin_probe(PROBE_ITERS)
        probe = (self.last + now) / 2
        self.last = now
        return PROBE_REF_S / probe


def window_probe() -> dict:
    return {"load1": os.getloadavg()[0], "spin_s": spin_probe()}


def window_report(before: dict, after: dict) -> dict:
    """Window quality: quiet means the one-minute load before the run stayed
    below the core count (a previous run's residue decays from about that)
    and the spin probe did not slow by more than a quarter across the run."""
    cores = nproc()
    ok = (before["load1"] < cores
          and after["spin_s"] < 1.25 * before["spin_s"])
    return {
        "nproc": cores,
        "load1_before": round(before["load1"], 2),
        "load1_after": round(after["load1"], 2),
        "spin_s_before": round(before["spin_s"], 4),
        "spin_s_after": round(after["spin_s"], 4),
        "window_ok": ok,
    }


def work_dir(root: str, *parts: str) -> str:
    """Scratch directory inside the checkout (ignored by git)."""
    path = os.path.join(root, ".bench_work", *parts)
    os.makedirs(path, exist_ok=True)
    return path


class Tracer:
    """In-memory spans: name, start, end, parent and a shared run id.  A
    disabled tracer records nothing, so untraced and traced code share one
    call path."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans = []
        self._stack = []

    def span(self, name: str):
        return _Span(self, name) if self.enabled else _NULL_SPAN

    def self_times(self, first: int = 0) -> dict:
        """name -> (total self seconds, span count) over the spans recorded
        from index ``first`` on.  Self time is a span's duration minus what
        its direct children cover."""
        spans = self.spans[first:]
        child = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"])
        out = {}
        for s in spans:
            own = (s["end"] - s["start"]) - child.get(s["id"], 0.0)
            tot, n = out.get(s["name"], (0.0, 0))
            out[s["name"]] = (tot + own, n + 1)
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class _Span:
    __slots__ = ("tracer", "rec")

    def __init__(self, tracer, name):
        self.tracer = tracer
        stack = tracer._stack
        self.rec = {
            "id": len(tracer.spans),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "run_id": tracer.run_id,
            "start": 0.0,
            "end": 0.0,
        }

    def __enter__(self):
        self.tracer.spans.append(self.rec)
        self.tracer._stack.append(self.rec)
        self.rec["start"] = time.perf_counter()
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.tracer._stack.pop()
        return False


class _NullSpan:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NULL_SPAN = _NullSpan()


class Outcome:
    """What a workload hands back to ``run.py``."""

    def __init__(self):
        self.metrics = {}
        self.attempted = 0
        self.failed = 0
        self.notes = {}
        self.failures = []
        self.tracer = None  # set by a traced run

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        if len(self.failures) < 20:
            self.failures.append(what)


def result_line(out: Outcome, names) -> str:
    """The final stdout line: exactly correct/attempted/failed/metrics."""
    table = {**END_TO_END, **PER_LAYER}
    metrics = {n: {"value": out.metrics[n], "unit": table[n][0]} for n in names}
    return json.dumps({
        "correct": out.failed == 0 and out.attempted > 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    })
