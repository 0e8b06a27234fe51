#!/usr/bin/env python3
"""htmlgraft benchmark: the parse -> extract pipeline, end to end and per
layer, on two workloads.

    python3 perfbench/run.py --workload crawl_direct --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` is the separate traced run that reports every
per-layer metric and the tracing overhead, and writes its spans and a
per-layer summary (metrics and each span's self time) under
``.bench_work/trace/``.  Every run checks every output against a reference
and exits non-zero when any document fails.  The last stdout line is the
result object; the lines before it name each metric with its unit and the
quality of the measuring window.  See perfbench/NOTE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import common  # noqa: E402

WORKLOADS = ("crawl_direct", "hostile_local")


class Context:
    """What a workload needs to know about its run."""

    def __init__(self, args):
        self.root = ROOT
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.poison_count = args.poison_expected
        self.nproc = common.nproc()
        self.run_id = f"{args.workload}-s{args.seed}-{int(time.time() * 1000)}"
        self.workload = args.workload

    def work(self, *parts: str) -> str:
        """A directory under the checkout's scratch area, created if need be."""
        return common.work_dir(ROOT, *parts)

    def poison(self, docs) -> None:
        """Corrupt the expected text of the first ``poison_count`` documents
        (a check that the correctness gate catches a mismatch)."""
        for doc in docs[: self.poison_count]:
            doc.text = doc.text + "☠"

    def write_trace(self, out) -> None:
        """The spans file and the per-layer summary of a traced run."""
        stem = os.path.join(self.work("trace"), f"{self.workload}-seed{self.seed}")
        out.tracer.write(stem + ".spans.jsonl")
        summary = {
            "run_id": self.run_id,
            "metrics": {n: out.metrics[n] for n in common.PER_LAYER},
            "self_time_s": {name: {"total": t, "spans": n} for name, (t, n)
                            in sorted(out.tracer.self_times().items())},
        }
        with open(stem + ".layers.json", "w", encoding="utf-8") as fh:
            json.dump(summary, fh, indent=1)
        for path in (stem + ".spans.jsonl", stem + ".layers.json"):
            print(f"trace: {os.path.relpath(path, ROOT)}")


def _check_checkout() -> str | None:
    for rel in ("htmlgraft/job.py", "fixtures/trees.jsonl",
                "fixtures/pages_sample.jsonl"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"not a checkout of the repository: {rel} is missing"
    return None


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--poison-expected", type=int, default=0,
                   help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    problem = _check_checkout()
    if problem:
        print(problem, file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    # the Spark workers import htmlgraft and the benchmark modules too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    ctx = Context(args)
    os.environ["TMPDIR"] = ctx.work("tmp")
    # Spark's launcher JVM would otherwise write perf data under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    import crawl
    import local

    run = {
        "crawl_direct": crawl.crawl_direct,
        "hostile_local": local.hostile_local,
    }[args.workload]
    before = common.window_probe()
    try:
        out = run(ctx)
    finally:
        crawl.stop_spark()
    window = common.window_report(before, common.window_probe())
    if out.tracer is not None:
        ctx.write_trace(out)

    names = list(common.PER_LAYER if ctx.trace else common.END_TO_END)
    table = {**common.END_TO_END, **common.PER_LAYER}
    for name in names:
        print(f"{args.workload} {name} = {out.metrics[name]:.6g} {table[name][0]}")
    frac = out.failed / out.attempted if out.attempted else 1.0
    print(f"{args.workload} docs_failed_frac = {frac:.6g} "
          f"({out.failed} of {out.attempted})")
    for reason in out.failures:
        print(f"FAILED {reason}")
    print("window " + json.dumps(window))
    print("notes " + json.dumps(out.notes))
    print(common.result_line(out, names))
    return 0 if out.failed == 0 and out.attempted > 0 else 1


if __name__ == "__main__":
    sys.exit(main())
