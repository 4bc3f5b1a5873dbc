#!/usr/bin/env python3
"""logmill benchmark.

    python3 perfbench/run.py --workload batch_skewed --seed 1 --seconds 6 --trace 0

Sets up from cold (starts the JVM and a SparkSession, builds the
workload's inputs from ``--seed``, warms up; this is ``setup_s``), then
repeats the workload's operation until ``--seconds`` have passed and
checks every output. ``perfbench/design.json`` defines each workload
and metric.
``--trace 0`` reports the end-to-end metrics, untraced; ``--trace 1``
runs the workload once untraced and once with one span per layer, and
reports the per-layer metrics. The spans are written to
``.perfbench_work/spans-<workload>-seed<seed>.jsonl``.

Standard output ends with one JSON line:
``{"correct": …, "attempted": …, "failed": …, "metrics": {…}}``.
The exit code is 1 when an output check fails and 2 when the pipeline
package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def make_workload(name: str, seed: int, workdir: str):
    from perfbench import workloads
    return {"batch_skewed": workloads.BatchSkewed,
            "incremental": workloads.Incremental,
            "neardup": workloads.NearDup}[name](seed, workdir)


def timed(name: str, seed: int, seconds: float, workdir: str) -> dict:
    """One cold set-up, then the timed loop and the checks."""
    from perfbench import probes, session
    from perfbench.workloads import Check, Exhausted, median, tail

    rss = probes.PeakRss()
    spark = None
    try:
        wl = make_workload(name, seed, os.path.join(workdir, "data"))
        t0 = time.monotonic()
        spark = session.start(workdir)
        rss.watch(session.jvm_pid())
        t1 = time.monotonic()
        wl.stage(spark)
        t2 = time.monotonic()
        wl.warm(spark)
        t3 = time.monotonic()
        setup_s = t3 - t0
        setup = {"start_s": t1 - t0, "stage_s": t2 - t1, "warm_s": t3 - t2}

        latencies, rates, attempted, failed = [], [], 0, 0
        round_units = round_time = 0.0
        start = time.monotonic()
        while (time.monotonic() - start < seconds
               or not wl.at_boundary(len(latencies))):
            t0 = time.monotonic()
            try:
                round_units += wl.op(spark, len(latencies))
            except Exhausted:
                break
            except Exception:  # noqa: BLE001 — a failed operation is counted
                traceback.print_exc()
                failed += 1
            attempted += 1
            latencies.append(time.monotonic() - t0)
            round_time += latencies[-1]
            if wl.at_boundary(len(latencies)):
                rates.append(round_units / round_time)
                round_units = round_time = 0.0
        try:
            check = wl.check(spark)
        except Exception:  # noqa: BLE001 — a check that cannot run fails
            traceback.print_exc()
            check = Check(failed=1)
        rss.sample()
    finally:
        rss.close()
        if spark is not None:
            session.shutdown(spark)

    failed = min(attempted, failed + check.failed)
    p_tail, pct, n = tail(latencies)
    values = {
        "setup_s": setup_s,
        "docs_per_s": median(rates),
        "commit_p50_s": median(latencies),
        "commit_tail_s": p_tail,
        "peak_rss_mb": rss.peak_mb,
        "recall": check.recall,
    }
    report = {
        "workload": name, "seed": seed, "input": wl.describe(),
        "setup_parts": {k: round(v, 3) for k, v in setup.items()},
        "peak_rss_parts": rss.parts,
        "operations": len(latencies),
        "latencies_s": [round(x, 3) for x in latencies],
        "tail_percentile": pct,
        "tail_samples": n,
        "check_notes": check.notes,
    }
    return {"values": values, "report": report, "attempted": attempted,
            "failed": failed}


def traced(name: str, seed: int, workdir: str, spans_path: str) -> dict:
    from perfbench import session
    from perfbench.spans import Tracer

    spark = None
    tr = Tracer()
    out: dict = {}
    try:
        wl = make_workload(name, seed, os.path.join(workdir, "data"))
        spark = session.start(workdir)
        wl.stage(spark)
        wl.warm(spark)
        check = wl.traced(spark, tr, out)
    finally:
        if spark is not None:
            session.shutdown(spark)
        tr.dump(spans_path)
    attempted = wl.trace_ops
    report = {"workload": name, "seed": seed, "input": wl.describe(),
              "spans": os.path.relpath(spans_path, ROOT),
              "n_spans": len(tr.spans), "check_notes": check.notes}
    return {"values": out, "report": report, "attempted": attempted,
            "failed": min(attempted, check.failed)}


def render(res: dict, names: list[str]) -> tuple[dict, dict]:
    """The human-readable report (every metric with its unit, and
    ``error_rate``) and the result line. Any failed operation or check
    makes the run incorrect. ``error_rate`` is 0 on a correct run, so
    it is not a result-line metric."""
    from perfbench import metrics

    payload = metrics.payload(res["values"], names)
    report = dict(res["report"])
    for n in names:
        report[n] = f"{payload[n]['value']:.6g} {payload[n]['unit']}"
    rate = res["failed"] / res["attempted"] if res["attempted"] else 1.0
    report["error_rate"] = f"{rate:.6g} ratio"
    line = {"correct": res["failed"] == 0 and res["attempted"] > 0,
            "attempted": res["attempted"], "failed": res["failed"],
            "metrics": payload}
    return report, line


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["batch_skewed", "incremental", "neardup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    try:
        import log_ship_elastic_postfix_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the pipeline: {exc}", file=sys.stderr)
        return 2
    from perfbench import metrics, session

    base = os.path.join(ROOT, ".perfbench_work")
    workdir = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    session.prepare_env(workdir)
    try:
        if args.trace:
            res = traced(args.workload, args.seed, workdir, os.path.join(
                base, f"spans-{args.workload}-seed{args.seed}.jsonl"))
            names = metrics.PER_LAYER
        else:
            res = timed(args.workload, args.seed, args.seconds, workdir)
            names = metrics.END_TO_END
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    report, line = render(res, names)
    print(json.dumps(report))
    print(json.dumps(line), flush=True)
    correct = line["correct"]
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
