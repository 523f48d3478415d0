#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine.

    python3 loadbench/run.py --workload olap_batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and
the benchmark's JVM side from source (see build.py). Each run then
starts one fresh JVM that checks every mix query against the golden
hashes, which is also the first warm-up pass, and then times whole passes
of the mix in an order fixed by ``--seed`` until ``--seconds`` have
passed. The last line of standard
output is one JSON object: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Everything else, including
CPU steal per pass, goes to standard error and to a JSON artifact under
``loadbench/out/artifacts``.
"""

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import jvm  # noqa: E402
import report  # noqa: E402
import workloads  # noqa: E402

GOLDEN_FILE = "src/test/resources/golden/sf0.01.json"
REQUIRED = ("build.sbt", "src/main/scala", "TESTDATA.md", GOLDEN_FILE)

# A run must end within 180 s, or 900 s when it also builds; this much
# is kept back for starting and summarising.
RUN_LIMIT_S, BUILD_RUN_LIMIT_S, MARGIN_S = 180, 900, 15

PASSES_PLANNED = 64


def log(msg):
    print(f"[loadbench] {msg}", file=sys.stderr, flush=True)


def plan(w, args, data, out):
    orders = workloads.pass_orders(len(w.mix), args.seed, PASSES_PLANNED)
    return {
        "workload": w.name,
        "mix": ",".join(w.mix),
        "data_dir": data,
        "ingest": ",".join(w.row_counts),
        "warm_passes": w.warm_passes,
        "seconds": args.seconds,
        # a traced run needs an untraced pass on either side of a traced one
        "min_passes": max(w.min_passes, 3) if args.trace else w.min_passes,
        "trace": args.trace,
        "orders": ";".join(",".join(map(str, o)) for o in orders),
        "kernel_rows": workloads.KERNEL_ROWS,
        "stream_probe": workloads.STREAM_PROBE,
        "out": out,
    }


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return f.readlines()[-n:]
    except OSError:
        return []


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.monotonic()
    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(root, p))]
    if missing:
        log(f"not a checkout of the engine (missing {', '.join(missing)})")
        return 2
    w = workloads.WORKLOADS[args.workload]
    with open(os.path.join(root, GOLDEN_FILE)) as f:
        golden = json.load(f)
    data = build.data_dir(root, workloads.SCALE)
    before = time.monotonic()
    engine = build.engine(root, log)
    built = time.monotonic() - before > 1.0
    limit = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - MARGIN_S

    stem = f"{w.name}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, "out", "work", stem)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    records_path = os.path.join(work, "records.jsonl")
    plan_path = os.path.join(work, "plan.txt")
    jvm.write_plan(plan_path, plan(w, args, data, records_path))
    spawn_ms = time.time() * 1000.0
    code = jvm.run(engine.classpath, work, plan_path,
                   limit - (time.monotonic() - t0),
                   ("SharedArchiveFile", engine.archive))
    try:
        with open(records_path) as f:
            records = [json.loads(line) for line in f]
    except OSError:
        records = []
    jvm_tail = tail(os.path.join(work, "jvm.log"))
    shutil.rmtree(work, ignore_errors=True)
    if code is None:
        log(f"the run overran {limit:.0f} s and was stopped")
        return 1
    fatal = [r["error"] for r in records if r["kind"] == "fatal"]
    if code != 0 or fatal or not records:
        log(f"the JVM failed (exit {code}): {fatal}")
        sys.stderr.writelines(jvm_tail)
        return 1

    run = report.Run(records, w, golden)
    golden_bad = run.golden_failures()
    failed = run.failed_execs()
    law_bad = run.law_violations() if args.trace else []
    extra = {}
    if args.trace:
        metrics = run.per_layer()
        units = report.PER_LAYER
        extra = {k: metrics.pop(k) for k in report.LAYER_EXTRA}
    else:
        metrics = run.end_to_end(spawn_ms)
        units = report.END_TO_END
    correct = not golden_bad and not failed and not law_bad
    artifact = {
        "workload": w.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "mix": list(w.mix), "scale": workloads.SCALE,
        "correct": correct, "golden_failures": golden_bad,
        "failed_executions": [
            {k: e[k] for k in ("query", "pass", "rows", "error")}
            for e in failed],
        "trace_law_violations": law_bad,
        "metrics": metrics, "diagnostics": run.diagnostics(),
        "per_query": run.per_query(),
    }
    if args.trace:
        artifact["layer_extra"] = extra
        artifact["job_count_drift"] = run.job_count_drift()
        artifact["kernels"] = run.by_kind["kernel"]
    art_dir = os.path.join(HERE, "out", "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    with open(os.path.join(art_dir, stem + ".json"), "w") as f:
        json.dump(artifact, f, indent=1)
    with open(os.path.join(art_dir, stem + ".records.jsonl"), "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in records)

    for problem in golden_bad + law_bad:
        log(f"INCORRECT: {problem}")
    for e in failed:
        log(f"FAILED: {e['query']} pass {e['pass']}: rows={e['rows']} "
            f"error={e['error']}")
    d = artifact["diagnostics"]
    log(f"{d['passes']} timed passes, {d['tail']['samples']} executions, "
        f"steal {d['steal_pct_run']:.1f}% (per pass "
        f"{', '.join(f'{s:.1f}' for s in d['steal_pct_passes'])})")
    for k, v in metrics.items():
        log(f"{k:40s} {v:14.6g} {units[k]}")
    print(json.dumps({
        "correct": correct,
        "attempted": len(run.execs),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
