"""Turns the JVM's raw records into metrics, the span trace and a verdict."""

from collections import Counter, defaultdict

import stats
from workloads import STREAM_PROBE, WORKLOADS

KERNELS = ("dotq", "l2q", "simhash64", "sorted_icount", "bpe_merge")

# Tolerance for the trace law, in ms. Phase marks share one clock; job
# times come from the listener at millisecond resolution.
LAW_TOL_MS = 5.0

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_geomean_s": "s",
    "cpu_s": "s",
    "heap_live_peak_mb": "MB",
    "ok_frac": "ratio",
}


def _per_layer_units():
    units = {
        "session.start_s": "s", "tables.ingest_s": "s", "warmup_s": "s",
        "build.wall_s": "s", "build.jobs": "count", "build.task_cpu_s": "s",
        "plan.wall_s": "s",
        "exec.wall_s": "s", "exec.jobs": "count", "exec.tasks": "count",
        "exec.task_cpu_s": "s", "exec.input_mb": "MB",
        "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
        "exec.spill_mb": "MB",
        "driver.gap_s": "s", "jobs_per_query": "count",
        "stream.batches": "count", "stream.add_batch_s": "s",
        "stream.plan_s": "s", "stream.commit_s": "s",
        "stream.output_mb": "MB", "stream.write_amp": "ratio",
        "stream.batch_p50_s": "s", "stream.ingest_rows_per_s": "rows/s",
        "cleanup.wall_s": "s", "cleanup.storage_mb_left": "MB",
        "cleanup.rdd_blocks_left": "count",
        "cleanup.scratch_dirs_left": "count",
        "trace.overhead_frac": "ratio", "trace.residual_s": "s",
    }
    for k in KERNELS:
        units[f"kernel.{k}.ns_per_row"] = "ns"
    for q in ALL_QUERIES:
        units[f"{q}.jobs"] = "count"
    return units


ALL_QUERIES = tuple(q for w in WORKLOADS.values() for q in w.mix)
PER_LAYER = _per_layer_units()
# Computed and kept in the artifact, but not a metric: tasks see no
# collection, since the heap is fixed at 3 GB and collected between
# queries, so it reads exactly 0 on every run.
LAYER_EXTRA = {"exec.gc_s": "s"}


def _dur_s(r, a="start_ms", b="end_ms"):
    return (r[b] - r[a]) / 1e3


def _latency_s(e):
    return (e["end_ms"] - e["build_ms"]) / 1e3


def pass_latency_s(execs, pass_no):
    """A pass's time: the sum of its queries' timed regions, without the
    harness's measuring and cleanup between them."""
    return sum(_latency_s(e) for e in execs if e["pass"] == pass_no)


def query_spans(e):
    """The span tree of one execution: the query and its layer children,
    in ms. ``measure`` is the listener drain and live-heap reading that
    sit between the timed region and cleanup."""
    root = ("query", e["build_ms"], e["cleanup_end_ms"])
    children = [
        ("build", e["build_ms"], e["plan_ms"]),
        ("plan", e["plan_ms"], e["exec_ms"]),
        ("exec", e["exec_ms"], e["end_ms"]),
        ("measure", e["end_ms"], e["cleanup_start_ms"]),
        ("cleanup", e["cleanup_start_ms"], e["cleanup_end_ms"]),
    ]
    return root, children


class Run:
    """Indexes one run's records."""

    def __init__(self, records, workload, golden):
        self.w = workload
        self.golden = golden
        self.by_kind = defaultdict(list)
        for r in records:
            self.by_kind[r["kind"]].append(r)
        self.execs = [e for e in self.by_kind["exec"] if not e["warm"]]
        self.passes = [p for p in self.by_kind["pass"] if not p["warm"]]
        self.phases = {p["name"]: p for p in self.by_kind["phase"]}

    def one(self, kind):
        rs = self.by_kind[kind]
        return rs[0] if rs else None

    # ---- correctness ---------------------------------------------------

    def golden_failures(self):
        bad = []
        got = {g["query"]: g for g in self.by_kind["golden"]}
        for q in self.w.mix:
            g = got.get(q)
            want = self.golden[q]
            if g is None:
                bad.append(f"{q}: no golden execution")
            elif g.get("error"):
                bad.append(f"{q}: {g['error']}")
            elif (g["rows"], g["sha256"]) != (want["rows"], want["sha256"]):
                bad.append(
                    f"{q}: rows={g['rows']} sha256={g['sha256']}, golden "
                    f"rows={want['rows']} sha256={want['sha256']}")
        return bad

    def failed_execs(self):
        """Timed executions that raised or whose row count is not the
        golden one: they run at the golden scale."""
        return [e for e in self.execs if e["error"] is not None
                or e["rows"] != self.golden[e["query"]]["rows"]]

    def law_violations(self):
        """The trace law on every traced execution and pass."""
        bad = []
        windows = {}
        for e in self.execs:
            if not e["traced"]:
                continue
            root, children = query_spans(e)
            for v in stats.check_law(root, children, LAW_TOL_MS):
                bad.append(f"{e['query']} pass {e['pass']}: {v}")
            for name, s, t in children:
                windows[(e["query"], str(e["pass"]), name)] = (s, t)
        for j in self.by_kind["job"]:
            w = windows.get((j["query"], j["pass"], j["phase"]))
            if w and (j["start_ms"] < w[0] - LAW_TOL_MS
                      or j["end_ms"] > w[1] + LAW_TOL_MS):
                bad.append(f"job {j['job']} of {j['query']} lies outside "
                           f"its {j['phase']} span")
        for p in self.passes:
            if not p["traced"]:
                continue
            root, children = self.pass_spans(p)
            for v in stats.check_law(root, children, LAW_TOL_MS):
                bad.append(f"pass {p['pass']}: {v}")
        return bad

    def pass_spans(self, p):
        """A pass and its query spans; the pass's self time is the
        harness's glue between queries."""
        return (("pass", p["start_ms"], p["end_ms"]),
                [(e["query"], e["build_ms"], e["cleanup_end_ms"])
                 for e in self.execs if e["pass"] == p["pass"]])

    # ---- end-to-end ----------------------------------------------------

    def end_to_end(self, spawn_ms):
        lat = [_latency_s(e) for e in self.execs]
        per_q = defaultdict(list)
        for e in self.execs:
            per_q[e["query"]].append(_latency_s(e))
        failed = len(self.failed_execs())
        return {
            "setup_s": (self.one("timed_start")["ms"] - spawn_ms) / 1e3,
            "pass_s": stats.median(
                [pass_latency_s(self.execs, p["pass"]) for p in self.passes]),
            "query_p50_s": stats.median(lat),
            "query_geomean_s": stats.geomean(
                [stats.median(v) for v in per_q.values()]),
            "cpu_s": stats.median([p["cpu_s"] for p in self.passes]),
            "heap_live_peak_mb": max(e["heap_live_mb"] for e in self.execs),
            "ok_frac": (len(self.execs) - failed) / len(self.execs),
        }

    def tail(self):
        """The highest percentile the run has ten samples beyond."""
        lat = [_latency_s(e) for e in self.execs]
        p = stats.tail_percentile(len(lat))
        out = {"samples": len(lat)}
        if p is not None:
            out[f"p{p:g}_s"] = stats.percentile(lat, p)
        return out

    def per_query(self):
        per_q = defaultdict(list)
        for e in self.execs:
            per_q[e["query"]].append(_latency_s(e))
        return {q: {"p50_s": stats.median(v), "samples": len(v)}
                for q, v in sorted(per_q.items())}

    # ---- per layer -----------------------------------------------------

    def _traced_passes(self):
        return [p for p in self.passes if p["traced"]]

    def _jobs_of(self, pass_no, phase=None, query=None):
        return [j for j in self.by_kind["job"]
                if j["pass"] == str(pass_no)
                and (phase is None or j["phase"] == phase)
                and (query is None or j["query"] == query)]

    def job_counts(self):
        """Jobs per query in each traced pass."""
        counts = defaultdict(list)
        for p in self._traced_passes():
            for q in self.w.mix:
                counts[q].append(len(self._jobs_of(p["pass"], query=q)))
        return counts

    def per_layer(self):
        tp = self._traced_passes()
        if not tp:
            raise ValueError("a traced run needs at least one traced pass")
        m = {}

        def per_pass(f):
            return stats.median([f(p["pass"]) for p in tp])

        def execs_of(n):
            return [e for e in self.execs if e["pass"] == n]

        def span_sum(n, a, b):
            return sum((e[b] - e[a]) / 1e3 for e in execs_of(n))

        def job_sum(n, phase, key):
            return sum(j[key] for j in self._jobs_of(n, phase))

        m["session.start_s"] = _dur_s(self.phases["session"])
        m["tables.ingest_s"] = _dur_s(self.phases["ingest"])
        m["warmup_s"] = (_dur_s(self.phases["golden"])
                         + _dur_s(self.phases["warmup"]))
        m["build.wall_s"] = per_pass(lambda n: span_sum(n, "build_ms", "plan_ms"))
        m["build.jobs"] = per_pass(lambda n: len(self._jobs_of(n, "build")))
        m["build.task_cpu_s"] = per_pass(lambda n: job_sum(n, "build", "cpu_s"))
        m["plan.wall_s"] = per_pass(lambda n: span_sum(n, "plan_ms", "exec_ms"))
        m["exec.wall_s"] = per_pass(lambda n: span_sum(n, "exec_ms", "end_ms"))
        m["exec.jobs"] = per_pass(lambda n: len(self._jobs_of(n, "exec")))
        for name, key in (("tasks", "tasks"), ("task_cpu_s", "cpu_s"),
                          ("gc_s", "gc_s"), ("input_mb", "in_mb"),
                          ("shuffle_read_mb", "shr_mb"),
                          ("shuffle_write_mb", "shw_mb"),
                          ("spill_mb", "spill_mb")):
            m[f"exec.{name}"] = per_pass(
                lambda n, key=key: job_sum(n, "exec", key))

        def gap(n):
            total = 0.0
            for e in execs_of(n):
                window = (e["build_ms"], e["end_ms"])
                jobs = [stats.clip((j["start_ms"], j["end_ms"]), window)
                        for j in self._jobs_of(n, query=e["query"])]
                total += (window[1] - window[0]
                          - stats.union_length([j for j in jobs if j]))
            return total / 1e3

        m["driver.gap_s"] = per_pass(gap)
        m["jobs_per_query"] = per_pass(
            lambda n: len(self._jobs_of(n)) / len(execs_of(n)))
        m.update(self._stream_layer())
        for k in self.by_kind["kernel"]:
            m[f"kernel.{k['name']}.ns_per_row"] = k["ns_per_row"]
        m["cleanup.wall_s"] = per_pass(
            lambda n: span_sum(n, "cleanup_start_ms", "cleanup_end_ms"))
        base = self.one("timed_start")["tmp_entries"]
        last = {n: execs_of(n)[-1] for n in (p["pass"] for p in tp)}
        m["cleanup.storage_mb_left"] = per_pass(
            lambda n: last[n]["storage_mb_left"])
        m["cleanup.rdd_blocks_left"] = per_pass(
            lambda n: last[n]["rdd_blocks_left"])
        m["cleanup.scratch_dirs_left"] = per_pass(
            lambda n: last[n]["tmp_entries"] - base)
        untraced = [pass_latency_s(self.execs, p["pass"])
                    for p in self.passes if not p["traced"]]
        m["trace.overhead_frac"] = stats.median(
            [pass_latency_s(self.execs, p["pass"]) for p in tp]
        ) / stats.median(untraced) - 1
        m["trace.residual_s"] = stats.median(
            [stats.self_times(*self.pass_spans(p))["pass"] / 1e3 for p in tp])
        counts = self.job_counts()
        for q in ALL_QUERIES:
            m[f"{q}.jobs"] = stats.median(counts[q]) if q in counts else 0
        return m

    def _stream_layer(self):
        probe = self.one("stream_probe")
        batches = [b for b in self.by_kind["batch"]
                   if b["query"] == STREAM_PROBE]
        if probe is None or not batches:
            raise ValueError("the stream probe recorded no micro-batches")

        def dsum(*keys):
            return sum(b["durations_ms"].get(k, 0) for b in batches
                       for k in keys) / 1e3

        out_mb = sum(j["out_mb"] for j in self.by_kind["job"]
                     if j["query"] == STREAM_PROBE and j["pass"] == "-1")
        rows = sum(b["rows"] for b in batches)
        return {
            "stream.batches": len(batches),
            "stream.add_batch_s": dsum("addBatch"),
            "stream.plan_s": dsum("queryPlanning"),
            "stream.commit_s": dsum("walCommit", "commitOffsets"),
            "stream.output_mb": out_mb,
            "stream.write_amp": out_mb / probe["replay_mb"],
            "stream.batch_p50_s": stats.median(
                [b["durations_ms"]["triggerExecution"] / 1e3
                 for b in batches]),
            "stream.ingest_rows_per_s": rows / _dur_s(probe),
        }

    def diagnostics(self):
        """Steal and set-up detail for explaining a noisy set of runs."""
        d = {
            "steal_pct_run": (self.one("end") or {}).get("steal_pct"),
            "steal_pct_passes": [p["steal_pct"] for p in self.passes],
            "phases_s": {n: _dur_s(p) for n, p in self.phases.items()},
            "passes": len(self.passes),
            "tail": self.tail(),
            "box_probe_s": [r["box_probe_s"] for r in (
                self.one("timed_start"), self.one("timed_end")) if r],
        }
        start = self.one("start")
        if start:
            d["cpus"] = start["cpus"]
            d["max_heap_mb"] = start["max_heap_mb"]
        return d

    def job_count_drift(self):
        """Queries whose job count differed between traced passes, with
        each pass's jobs, by layer and call site, beyond the first's."""
        drift = {}
        for q, counts in self.job_counts().items():
            if len(set(counts)) == 1:
                continue
            sites = [Counter(f"{j['phase']}: {j['site']}"
                             for j in self._jobs_of(p["pass"], query=q))
                     for p in self._traced_passes()]
            drift[q] = {
                "counts": counts,
                "extra_vs_first": [dict(c - sites[0]) for c in sites],
                "missing_vs_first": [dict(sites[0] - c) for c in sites],
            }
        return drift
