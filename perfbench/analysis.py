"""Statistics and trace arithmetic of the benchmark: percentiles, interval
unions, self time, driver gap, and the per-layer figures of a traced run.

Times in the raw records are epoch milliseconds; figures are seconds.
"""
import statistics
from collections import defaultdict

# Call-site frames that name each etl phase: a Spark job belongs to the
# innermost of these frames in the stack that issued it.
ETL_PHASES = [
    ("graft.etl.Sources$.readCsv(", "extract"),
    ("graft.etl.Quality$.profile(", "quality"),
    ("graft.etl.Sources$.appendTable(", "load"),
    ("graft.etl.Sources$.checksum(", "audit"),
    ("graft.etl.Sources$.appendMetadata(", "audit"),
    ("graft.etl.Pipeline$.updateCustomerTotals(", "refresh"),
]
ETL_PHASE_NAMES = ["extract", "quality", "load", "audit", "refresh", "report"]
EXT_OPS = ["x03_dedup_minhash", "x115_span_dedup", "x08_sim_topk_lsh", "x90_ann_recall"]

# A traced op's parts must add up to its wall time within this share
# (plus 5 ms for the millisecond resolution of Spark's event times).
ACCOUNTING_TOLERANCE = 0.02
ACCOUNTING_SLACK_S = 0.005


def percentile(values, q):
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    xs = sorted(values)
    k = max(1, -(-len(xs) * q // 100))
    return xs[int(k) - 1]


def p90_supported(n):
    """A p90 is reported only with at least ten samples beyond it."""
    return n >= 100


def median(values):
    return statistics.median(values)


def union_len(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    ivs = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            ivs.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(ivs):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_len(children, s, e)


def driver_gap(op, jobs):
    """Op wall time not covered by any Spark job."""
    return self_time(op, jobs)


def phase_times(op, labeled_jobs):
    """Per label, the op time covered by that label's jobs."""
    by = defaultdict(list)
    for label, iv in labeled_jobs:
        by[label].append(iv)
    return {k: union_len(v, *op) for k, v in by.items()}


def etl_phase(site):
    """The etl phase named by the innermost matching frame of a call site."""
    for frame in (site or "").split("\n"):
        for prefix, phase in ETL_PHASES:
            if frame.strip().startswith(prefix):
                return phase
    return None


class Trace:
    """Index of a traced run's raw events."""

    def __init__(self, result):
        self.jobs, self.execs, self.plans = {}, {}, []
        stage_job, ends = {}, {}
        tasks = []
        for ev in result["trace"]["events"]:
            k = ev["k"]
            if k == "job_start":
                self.jobs[ev["job"]] = {"start": ev["t"], "exec": ev["exec"], "tasks": []}
                for st in ev["stages"]:
                    stage_job[st] = ev["job"]
            elif k == "job_end":
                ends[ev["job"]] = ev["t"]
            elif k == "task":
                tasks.append(ev)
            elif k == "exec":
                self.execs[ev["exec"]] = ev
            elif k == "plan":
                self.plans.append(ev)
        for j, job in self.jobs.items():
            job["end"] = ends.get(j, job["start"])
        for t in tasks:
            j = stage_job.get(t["stage"])
            if j in self.jobs:
                self.jobs[j]["tasks"].append(t)
        self.spans = result["trace"]["spans"]
        self.children = defaultdict(list)
        for sp in self.spans:
            self.children[sp["parent"]].append(sp)

    def site(self, exec_id):
        ex = self.execs.get(exec_id)
        if ex is None:
            return None
        if etl_phase(ex["site"]) is None and ex["root"] != exec_id:
            return self.site(ex["root"])
        return ex["site"]

    def op_records(self):
        """(op span, child spans, jobs in the op) for every traced op."""
        for sp in self.spans:
            if not sp["name"].startswith("op:"):
                continue
            lo, hi = sp["start"], sp["end"]
            jobs = [j for j in self.jobs.values() if lo - 1 <= j["start"] <= hi + 1]
            yield sp, self.children[sp["id"]], jobs


def _inner_span(kids, t):
    for k in kids:
        if k["start"] - 1 <= t <= k["end"] + 1:
            return k["name"]
    return None


def _task_sums(jobs):
    ts = [t for j in jobs for t in j["tasks"]]
    return {
        "tasks": len(ts),
        "task_s": sum(t["run_ms"] for t in ts) / 1000.0,
        "cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
        "gc_s": sum(t["gc_ms"] for t in ts) / 1000.0,
        "shuffle_write": sum(t["shuffle_write"] for t in ts),
        "spill": sum(t["spill"] for t in ts),
        "out_bytes": sum(t["out_bytes"] for t in ts),
        "task_ivs": [(t["launch"], t["finish"]) for t in ts],
    }


def query_op(tr, sp, kids, jobs):
    """Figures of one traced q/x op (build, plan, exec spans + Spark)."""
    lo, hi = sp["start"], sp["end"]
    wall = hi - lo
    build = next((k for k in kids if k["name"].endswith(".build")), None)
    exe = next((k for k in kids if k["name"].endswith(".exec")), None)
    plan_ivs = []
    for p in tr.plans:
        if "optimization" in p and "planning" in p:
            plan_ivs.append((p["optimization"][0], p["planning"][1]))
    plan = union_len(plan_ivs, exe["start"], exe["end"]) if exe else 0.0
    job_ivs = [(j["start"], j["end"]) for j in jobs]
    s = _task_sums(jobs)
    job_cover = union_len(job_ivs, lo, hi)
    task_cover = union_len(s["task_ivs"], lo, hi)
    parts = (build["end"] - build["start"] if build else 0.0) + \
        (exe["end"] - exe["start"] if exe else 0.0)
    return {
        "wall_s": wall / 1000.0,
        "build_s": (build["end"] - build["start"]) / 1000.0 if build else 0.0,
        "plan_s": plan / 1000.0,
        "exec_s": ((exe["end"] - exe["start"]) - plan) / 1000.0 if exe else 0.0,
        "jobs": len(jobs), "tasks": s["tasks"], "task_s": s["task_s"],
        "cpu_s": s["cpu_s"], "gc_s": s["gc_s"], "shuffle_write": s["shuffle_write"],
        "spill": s["spill"],
        "driver_gap_s": (wall - job_cover) / 1000.0,
        "sched_delay_s": (job_cover - task_cover) / 1000.0,
        "task_busy_share": task_cover / wall if wall > 0 else 0.0,
        "accounting_error": abs(wall - parts) / wall if wall > 0 else 0.0,
    }


def etl_op(tr, sp, kids, jobs):
    """Figures of one traced etl op: jobs attributed to phases by the call
    site that issued them (report jobs by the report span)."""
    lo, hi = sp["start"], sp["end"]
    wall = hi - lo
    labeled = []
    for j in jobs:
        phase = etl_phase(tr.site(j["exec"]))
        if phase is None:
            phase = "report" if _inner_span(kids, j["start"]) == "etl.report" else "other"
        labeled.append((phase, (j["start"], j["end"])))
    phases = phase_times((lo, hi), labeled)
    gap = driver_gap((lo, hi), [iv for _, iv in labeled])
    s = _task_sums(jobs)
    csv_scans = sum(e["csv_scans"] for e in tr.execs.values()
                    if e["root"] == e["exec"] and lo - 1 <= e["t"] <= hi + 1)
    total = sum(phases.values()) + gap
    return {
        "wall_s": wall / 1000.0,
        "phases_s": {p: phases.get(p, 0.0) / 1000.0 for p in ETL_PHASE_NAMES + ["other"]},
        "driver_gap_s": gap / 1000.0,
        "jobs": len(jobs), "task_s": s["task_s"], "out_bytes": s["out_bytes"],
        "csv_scans": csv_scans,
        "accounting_error": abs(total - wall) / wall if wall > 0 else 0.0,
    }


def _mean(recs, key):
    return sum(r[key] for r in recs) / len(recs) if recs else 0.0


def layer_metrics(result, workload, cpus, input_bytes):
    """Per-layer figures of a traced run, plus the split and accounting
    checks the doc states."""
    tr = Trace(result)
    m = {}
    split = {}
    errors = []
    recs = []
    for sp, kids, jobs in tr.op_records():
        name = sp["name"][3:]
        rec = etl_op(tr, sp, kids, jobs) if workload == "etl_load" else query_op(tr, sp, kids, jobs)
        rec["op"] = name
        recs.append(rec)
        slack = ACCOUNTING_TOLERANCE + ACCOUNTING_SLACK_S / max(rec["wall_s"], 1e-9)
        if rec["accounting_error"] > slack:
            errors.append(f"{name}: parts miss op wall by {rec['accounting_error']:.1%}")
    if workload == "etl_load" and recs:
        for p in ETL_PHASE_NAMES:
            m[f"etl.{p}_s"] = sum(r["phases_s"][p] for r in recs) / len(recs)
        m["etl.jobs_per_op"] = _mean(recs, "jobs")
        m["etl.csv_scans_per_table"] = _mean(recs, "csv_scans") / 4.0
        m["etl.bytes_written_per_input_byte"] = _mean(recs, "out_bytes") / input_bytes
        m["etl.task_s"] = _mean(recs, "task_s")
        m["etl.driver_gap_s"] = _mean(recs, "driver_gap_s")
        phase_sum = sum(sum(v for k, v in r["phases_s"].items() if k != "other") for r in recs)
        split = {"etl_phase_share": phase_sum / sum(r["wall_s"] for r in recs),
                 "intended": "etl phases > 0.5 of op time"}
    qs = [r for r in recs if r["op"].startswith("q")]
    if qs:
        for k in ("build_s", "plan_s", "exec_s", "task_s", "sched_delay_s", "driver_gap_s"):
            m[f"analytics.{k}"] = _mean(qs, k)
        m["analytics.jobs_per_query"] = _mean(qs, "jobs")
        m["analytics.tasks_per_query"] = _mean(qs, "tasks")
        m["analytics.shuffle_bytes"] = _mean(qs, "shuffle_write")
        busy = sum(r["task_busy_share"] * r["wall_s"] for r in qs) / sum(r["wall_s"] for r in qs)
        split = {"overhead_share": 1.0 - busy,
                 "intended": "planning, scheduling and driver gap > 0.5 of op time"}
    xs = [r for r in recs if r["op"] in EXT_OPS]
    if xs:
        for k in ("build_s", "plan_s", "exec_s", "task_s", "cpu_s", "gc_s", "driver_gap_s"):
            m[f"ext.{k}"] = _mean(xs, k)
        m["ext.core_use"] = sum(r["task_s"] for r in xs) / (sum(r["exec_s"] for r in xs) * cpus)
        m["ext.shuffle_write_bytes"] = _mean(xs, "shuffle_write")
        m["ext.spill_bytes"] = _mean(xs, "spill")
        m["ext.jobs_per_query"] = _mean(xs, "jobs")
        # per query, the op's whole wall time: x43 runs most of its jobs
        # while its query function builds the frame
        for q in EXT_OPS:
            m[f"ext.{q}.exec_s"] = _mean([r for r in xs if r["op"] == q], "wall_s")
        x43 = [r for r in recs if r["op"] == "x43_dup_clusters"]
        m["ops.x43_dup_clusters.exec_s"] = _mean(x43, "wall_s")
        m["ops.x43_dup_clusters.shuffle_bytes"] = _mean(x43, "shuffle_write")
        busy = sum(r["task_busy_share"] * r["wall_s"] for r in recs) / sum(r["wall_s"] for r in recs)
        split = {"task_share": busy, "intended": "task time > 0.5 of op time"}
    return m, split, errors


def trace_overhead(ops):
    """Traced over untraced ops per second, minus one, from the timed
    window's alternating passes."""
    def rate(rs):
        t = sum(o["end"] - o["start"] for o in rs) / 1000.0
        return len(rs) / t if t > 0 else 0.0
    on = rate([o for o in ops if o["traced"]])
    off = rate([o for o in ops if not o["traced"]])
    return on / off - 1.0 if off > 0 else 0.0
