"""Crawl-and-curation benchmark.

    python3 perfbench/run.py --workload crawl_backlog --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Workloads (see ``BENCHMARK.json``):
``crawl_backlog`` (``perfbench/crawl.py``) and ``curation``
(``perfbench/curation.py``). Inputs are generated from ``--seed``.
``--seconds`` fixes how much timed work a run does, from step times measured
on a 4-core machine: crawl rounds (at least 2) or query passes (at least 2).

``--trace 0`` times the workload with tracing off and reports the
end-to-end metrics. ``--trace 1`` is a separate run that also records spans
and Spark counters and replays each layer, and reports the per-layer metrics
(0 for a layer the workload does not exercise). Every metric measured is
printed as ``name value unit``; the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

A run writes only under ``.perfbench_tmp/`` (removed at exit) and
``.perfbench_state/`` (output fingerprints by seed, compared across runs, and
the last traced run's spans).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = ".perfbench_state"


class Result:
    """Counts attempted and failed operations and collects metrics."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}
        self.setup_s = self.wall_s = self.rows_per_s = self.peak_rss_mb = 0.0

    def attempt(self, what: str, fn, *a, **k):
        """Run one timed operation; a raise counts as a failure."""
        self.attempted += 1
        try:
            return fn(*a, **k)
        except Exception:
            self.failed += 1
            self.failures.append(f"{what}: {traceback.format_exc(limit=3)}")
            return None

    def check(self, what: str, violations: list[str]) -> None:
        self.attempted += 1
        if violations:
            self.failed += 1
            self.failures.append(f"{what}: " + "; ".join(violations[:5]))

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": self.setup_s,
            "wall_s": self.wall_s,
            "rows_per_s": self.rows_per_s,
            "peak_rss_mb": self.peak_rss_mb,
        }


class Context:
    def __init__(self, run_dir: str, cores: int, session_s: float):
        from perfbench.checks import FingerprintLog

        self.run_dir = run_dir
        self.cores = cores
        self.session_s = session_s
        self.result = Result()
        self.fingerprints = FingerprintLog(os.path.join(ROOT, STATE_DIR, "fingerprints.json"))
        self.spans_out: str | None = None

    def keep_spans(self, tracer) -> None:
        """Write the run's spans where they outlive the run dir."""
        dest = os.path.join(ROOT, STATE_DIR, "spans.json")
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        tracer.dump(dest)
        self.spans_out = dest


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    spec = load_spec()
    workloads = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "web_crawling_prj_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    from perfbench import crawl, curation, env

    cores = len(os.sched_getaffinity(0))  # what nproc reports
    run_dir = env.make_run_dir(ROOT)
    spark = None
    cwd = os.getcwd()
    try:
        # any relative path Spark or Derby write lands in the run dir
        os.chdir(run_dir)
        t0 = time.perf_counter()
        spark = env.start_session(ROOT, run_dir, cores)
        ctx = Context(run_dir, cores, time.perf_counter() - t0)
        ctx.result.layer["session.start_s"] = ctx.session_s
        trace = bool(args.trace)
        if args.workload == "curation":
            res = curation.run(spark, args.seed, args.seconds, trace, ctx)
        else:
            res = crawl.run(spark, args.seed, args.seconds, trace, ctx)
    finally:
        try:
            if spark is not None:
                env.stop_session(spark)
        finally:
            # the JVM and its workers must be gone before the run dir is
            # removed and before this process exits
            env.stop_jvm()
            os.chdir(cwd)
            env.remove_run_dir(run_dir)

    res.layer["run.error_rate"] = res.failed / max(res.attempted, 1)
    e2e = res.end_to_end()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, value in sorted({**e2e, **res.layer}.items()):
        print(f"{args.workload} {name} {value:.6g} {units.get(name, '')}".rstrip())
    for f in res.failures:
        print(f"FAILED {f}", file=sys.stderr)
    if ctx.spans_out:
        print(f"spans: {ctx.spans_out}", file=sys.stderr)
    chosen = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float((res.layer if trace else e2e).get(m["name"], 0.0)), "unit": m["unit"]}
        for m in chosen
    }
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
