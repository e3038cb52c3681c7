"""Metrics of one benchmark run, computed from the harness's run record.

End-to-end metrics come from untraced passes. Per-layer metrics come from
traced passes: the span tree pass -> op -> build/run (queries) or
build/run -> task run/gate (daily_ingest) -> Spark job, plus query
planning phases from the QueryExecutionListener. Every metric is a value
per pass (the median over the run's passes) unless its name says `op_`.
"""
import statistics
from collections import defaultdict

END_TO_END = {
    "setup_s": "s",            # JVM start to the first timed operation
    "pass_s": "s",             # median time of one pass over the workload
    "retained_heap_mb": "MB",  # heap used after a full GC at the end of a pass
}

# Also printed, and kept in the record, but not gated: a run has 1 to 12
# operations, so the median operation is one query's time (its spread
# across runs reached 21%) and there is no tail above the median;
# failed_frac is 0 on a correct run; the last two exist on daily_ingest only.
DETAIL_UNITS = {
    "op_s_p50": "s",
    "op_s_tail": "s",
    "failed_frac": "ratio",
    "stored_bytes_per_input_byte": "ratio",
    "catchup_s": "s",
}

PER_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.outside_jobs_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.core_busy_frac": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.max_task_s": "s",
    "spark.max_task_records": "count",
    "spark.input_rows": "count",
    "plans.actions": "count",
    "plans.analysis_s": "s",
    "plans.optimization_s": "s",
    "plans.planning_s": "s",
    "call.build_s": "s",
    "call.build_jobs": "count",
    "call.run_s": "s",
    "call.run_jobs": "count",
    "self.bench_s": "s",
    "self.library_s": "s",
    "self.plans_s": "s",
    "self.spark_s": "s",
    "trace.overhead": "ratio",
}

# Per-layer figures kept in the record and printed, but not in the result
# line: zero on most runs, or a diagnostic of the trace itself.
RECORD_UNITS = {
    "spark.gc_s": "s",
    "spark.task_failures": "count",
    "spark.spill_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.unattributed_jobs": "count",
}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def pass_seconds(rec, p):
    """Query workloads: the sum of the pass's operation times (the settle
    between operations is the benchmark's, not the library's). daily_ingest:
    the whole catch-up, whose bookkeeping between dates is library work."""
    if rec["workload"] == "daily_ingest":
        return (p["end"] - p["start"]) / 1000
    return sum(o["end"] - o["start"] for o in p["ops"]) / 1000


def tail(samples):
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it. With ten samples or fewer there is none; the
    maximum is reported as percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def union_len(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class PassTrace:
    """The span tree of one traced pass, with jobs and planning phases
    attached to the span that caused them."""

    def __init__(self, rec, p):
        spans = {s[0]: dict(zip(("id", "parent", "name", "layer", "op", "start", "end"), s))
                 for s in rec["spans"]}
        root = next(s for s in spans.values()
                    if s["parent"] == -1 and s["name"] == f"pass{p['idx']}")
        self.root = root
        children = defaultdict(list)
        for s in spans.values():
            children[s["parent"]].append(s)
        self.spans = {}
        stack = [(root, 0)]
        while stack:
            s, depth = stack.pop()
            s["depth"] = depth
            self.spans[s["id"]] = s
            stack += [(c, depth + 1) for c in children[s["id"]]]
        self.ops = [s for s in self.spans.values() if s["parent"] == root["id"]]

        # jobs: by the span id Spark carried in the job's local properties;
        # a job without one goes to the innermost span open when it started
        self.jobs, self.unattributed = [], 0
        for j in rec["jobs"]:
            sp = self.spans.get(j["span"])
            if sp is None:
                if j["span"] != -1 or not root["start"] <= j["start"] <= root["end"]:
                    continue
                self.unattributed += 1
                sp = self.innermost(j["start"])
            self.jobs.append(dict(j, owner=sp))
        # planning phases: to the innermost span open when the phase began
        self.phases = []
        for q in rec["qes"]:
            for name, s, e in q["phases"]:
                if root["start"] <= s <= root["end"]:
                    self.phases.append({"name": name, "start": s, "end": e,
                                        "owner": self.innermost(s)})
        # a query execution belongs to the pass its first phase began in (its
        # listener callback is asynchronous and may land after the pass)
        self.actions = sum(1 for q in rec["qes"]
                           if q["phases"] and root["start"] <= q["phases"][0][1] <= root["end"])

    def innermost(self, t):
        best = self.root
        for s in self.spans.values():
            if s["start"] <= t <= s["end"] and s["depth"] > best["depth"]:
                best = s
        return best

    def ancestors(self, s):
        while s is not None:
            yield s
            s = self.spans.get(s["parent"])

    def op_of(self, s):
        for a in self.ancestors(s):
            if a["parent"] == self.root["id"]:
                return a
        return None

    def self_times(self):
        """Partition the pass's wall time: each instant goes to the deepest
        node open at that instant (latest start on a tie), every child
        clipped to its parent. Returns {node key: seconds} and node info;
        per op, the self times of its subtree sum to its wall time."""
        nodes = []
        for s in self.spans.values():
            parent = self.spans.get(s["parent"])
            lo, hi = (s["start"], s["end"]) if parent is None else (
                max(s["start"], parent["start"]), min(s["end"], parent["end"]))
            nodes.append((("span", s["id"]), s["layer"], s["depth"], lo, hi, s))
        for i, j in enumerate(self.jobs):
            o = j["owner"]
            nodes.append((("job", i), "spark", o["depth"] + 1,
                          max(j["start"], o["start"]), min(j["end"], o["end"]), o))
        for i, ph in enumerate(self.phases):
            o = ph["owner"]
            nodes.append((("phase", i), "plans", o["depth"] + 1,
                          max(ph["start"], o["start"]), min(ph["end"], o["end"]), o))
        events = []
        for idx, n in enumerate(nodes):
            if n[4] > n[3]:
                events.append((n[3], 1, idx))
                events.append((n[4], 0, idx))
        events.sort()
        active, own = {}, defaultdict(float)
        last = None
        for t, kind, idx in events:
            if active and last is not None and t > last:
                top = max(active, key=lambda i: (nodes[i][2], nodes[i][3], i))
                own[top] += t - last
            last = t
            if kind == 1:
                active[idx] = True
            else:
                active.pop(idx, None)
        return {nodes[i][0]: v / 1000 for i, v in own.items()}, nodes


def layer_metrics(rec, p, cores):
    t = PassTrace(rec, p)
    jobs = t.jobs
    m = {
        "spark.jobs": len(jobs),
        "spark.stages": sum(j["stages"] for j in jobs),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.task_failures": sum(j["task_failures"] for j in jobs),
        "spark.executor_run_s": sum(j["run_ms"] for j in jobs) / 1000,
        "spark.executor_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
        "spark.gc_s": sum(j["gc_ms"] for j in jobs) / 1000,
        "spark.shuffle_read_bytes": sum(j["shuffle_read"] for j in jobs),
        "spark.shuffle_write_bytes": sum(j["shuffle_write"] for j in jobs),
        "spark.spill_bytes": sum(j["spill"] for j in jobs),
        "spark.output_bytes": sum(j["output_bytes"] for j in jobs),
        "spark.max_task_s": max((j["max_task_ms"] for j in jobs), default=0) / 1000,
        "spark.max_task_records": max((j["max_task_records"] for j in jobs), default=0),
        "spark.input_rows": sum(j["input_rows"] for j in jobs),
        "spark.unattributed_jobs": t.unattributed,
        "plans.actions": t.actions,
    }
    job_wall = union_len([(j["start"], j["end"]) for j in jobs]) / 1000
    m["spark.core_busy_frac"] = m["spark.executor_run_s"] / max(job_wall * cores, 1e-9)
    outside = 0.0
    for op in t.ops:
        inside = union_len([(max(j["start"], op["start"]), min(j["end"], op["end"]))
                            for j in jobs if t.op_of(j["owner"]) is op
                            and j["end"] > j["start"]])
        outside += (op["end"] - op["start"] - inside) / 1000
    m["spark.outside_jobs_s"] = outside
    for ph in ("analysis", "optimization", "planning"):
        m[f"plans.{ph}_s"] = sum(x["end"] - x["start"] for x in t.phases
                                 if x["name"] == ph) / 1000
    for call in ("build", "run"):
        calls = [s for s in t.spans.values() if s["name"] == call]
        ids = {s["id"] for s in calls}
        m[f"call.{call}_s"] = sum(s["end"] - s["start"] for s in calls) / 1000
        m[f"call.{call}_jobs"] = sum(
            1 for j in jobs if any(a["id"] in ids for a in t.ancestors(j["owner"])))

    own, nodes = t.self_times()
    by_layer = defaultdict(float)
    for key, layer, *_ in nodes:
        by_layer[layer] += own.get(key, 0.0)
    layer_self = dict(by_layer)
    m["self.bench_s"] = layer_self.get("bench", 0.0)
    m["self.plans_s"] = layer_self.get("plans", 0.0)
    m["self.spark_s"] = layer_self.get("spark", 0.0)
    m["self.library_s"] = sum(v for k, v in layer_self.items()
                              if k not in ("bench", "plans", "spark"))

    # per op: the self times of its subtree must add up to its wall time
    op_gap = 0.0
    for op in t.ops:
        sub = sum(v for (kind, i), v in own.items()
                  if t.op_of(nodes_owner(kind, i, t)) is op)
        op_gap = max(op_gap, abs(sub - (op["end"] - op["start"]) / 1000))

    detail = {"self_by_layer": layer_self, "op_self_sum_gap_s": op_gap,
              "ops": per_op(t, jobs)}
    if rec["workload"] == "daily_ingest":
        detail["tasks"] = per_task(t, jobs, p)
    return m, detail


def nodes_owner(kind, i, t):
    if kind == "span":
        return t.spans[i]
    return (t.jobs[i] if kind == "job" else t.phases[i])["owner"]


def per_op(t, jobs):
    out = {}
    for op in t.ops:
        js = [j for j in jobs if t.op_of(j["owner"]) is op]
        out[op["name"]] = {"wall_s": (op["end"] - op["start"]) / 1000, "jobs": len(js),
                           "tasks": sum(j["tasks"] for j in js),
                           "executor_run_s": sum(j["run_ms"] for j in js) / 1000}
    return out


def per_task(t, jobs, p):
    """daily_ingest: seconds, jobs and attempts of each task's run and gate,
    summed over the pass's execution dates."""
    out = defaultdict(lambda: {"run_s": 0.0, "gate_s": 0.0, "jobs": 0, "attempts": 0})
    for key, tasks in p["extra"].items():
        if key.startswith("tasks."):
            for task, o in tasks.items():
                out[task]["attempts"] += o["attempts"]
    for s in t.spans.values():
        if s["name"].startswith(("task:", "gate:")):
            kind, task = s["name"].split(":", 1)
            out[task]["run_s" if kind == "task" else "gate_s"] += (s["end"] - s["start"]) / 1000
            out[task]["jobs"] += sum(1 for j in jobs if j["owner"] is s)
    return dict(out)


def summarize(rec):
    passes = rec["passes"]
    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    ops = [o for p in passes for o in p["ops"]]
    failed = sum(1 for o in ops if not o["ok"])
    check_failures = rec["facts"].get("check_failures", {})
    correct = failed == 0 and not rec["bad_outputs"] and not check_failures and bool(ops)

    samples = [(o["end"] - o["start"]) / 1000 for p in plain for o in p["ops"]]
    tail_v, tail_p, tail_n = tail(samples)
    pass_s = [pass_seconds(rec, p) for p in plain]
    m = {
        "setup_s": rec["setup_s"],
        "pass_s": median(pass_s),
        "retained_heap_mb": median([p["heap_mb"] for p in plain]),
    }
    detail = {"passes": len(passes), "pass_s_each": pass_s, "op_samples": len(samples),
              "op_s_p50": median(samples),
              "op_s_tail": tail_v, "tail_percentile": tail_p, "tail_n": tail_n,
              "failed_frac": failed / max(len(ops), 1)}
    if rec["workload"] == "daily_ingest":
        detail["stored_bytes_per_input_byte"] = median(
            [sum(p["extra"]["stored_bytes"].values()) / p["extra"]["input_bytes"] for p in passes])
        detail["catchup_s"] = median([pass_seconds(rec, p) - sum(
            o["end"] - o["start"] for o in p["ops"]) / 1000 for p in plain])
    if traced:
        per = [layer_metrics(rec, p, rec["cores"]) for p in traced]
        keys = per[0][0].keys()
        for k in keys:
            m[k] = median([x[0][k] for x in per])
        m["trace.overhead"] = median([pass_seconds(rec, p) for p in traced]) / m["pass_s"]
        detail["layers"] = per[-1][1]
    units = {**END_TO_END, **PER_LAYER, **RECORD_UNITS}
    return {"correct": correct, "attempted": len(ops), "failed": failed,
            "metrics": {k: (v, units.get(k, "")) for k, v in m.items()},
            "detail": detail}


def report(rec, result):
    """Human-readable summary lines printed before the result line."""
    d = result["detail"]
    h = rec["host"]
    lines = [
        f"# {rec['workload']} seed={rec['seed']} trace={int(rec['trace'])} "
        f"cores={rec['cores']} passes={d['passes']} ops={result['attempted']} "
        f"failed={result['failed']}",
        f"# op_s_tail is p{d['tail_percentile']:.1f} of n={d['tail_n']} op samples "
        "(the highest percentile with ten samples beyond it; the maximum when n <= 10)",
        f"# host start: load {h['start']['loadavg']}, other java {h['start']['other_java']}; "
        f"end: load {h['end']['loadavg']}, other java {h['end']['other_java']}",
    ]
    if h["start"]["other_graft_java"] or h["end"]["other_graft_java"]:
        lines.append("# WARNING: another graft JVM ran during this run; timings are contended")
    for k, (v, unit) in result["metrics"].items():
        lines.append(f"# {k} = {v:.6g} {unit}")
    for k, unit in DETAIL_UNITS.items():
        if k in d:
            lines.append(f"# {k} = {d[k]:.6g} {unit}")
    if rec["workload"] == "daily_ingest":
        f = rec["facts"]
        lines.append(f"# survivor_frac = {f['survivor_frac']:.4f} "
                     f"({f['survivors']} of {f['input_docs']}), quarantined_rows = "
                     f"{f['quarantined_rows']}, corrupt lines = {f['corrupt_lines']}, "
                     f"repeats = {f['repeats_injected']}, input bytes = {f['input_bytes']}")
        last = rec["passes"][-1]["extra"]
        lines.append("# stored_bytes " + " ".join(f"{a}={b}" for a, b in last["stored_bytes"].items()))
        lines.append("# files " + " ".join(f"{a}={b}" for a, b in last["files"].items()))
    if "layers" in d:
        L = d["layers"]
        lines.append("# self time by layer (s): " + " ".join(
            f"{k}={v:.3f}" for k, v in sorted(L["self_by_layer"].items())))
        lines.append(f"# largest |op self-time sum - op wall| = {L['op_self_sum_gap_s']:.2e} s")
        for task, v in sorted(L.get("tasks", {}).items()):
            lines.append(f"# pipelines.{task}: run {v['run_s']:.3f} s, gate {v['gate_s']:.3f} s, "
                         f"{v['jobs']} jobs, {v['attempts']} attempts")
    for name, msg in sorted(rec["facts"].get("check", {}).items()):
        if msg != "ok":
            lines.append(f"# CHECK {name}: {msg}")
    for name, msg in sorted(rec["facts"].get("check_failures", {}).items()):
        lines.append(f"# CHECK {name}: {msg}")
    return lines
