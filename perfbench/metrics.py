"""Metric arithmetic: end-to-end numbers from a run record, and the traced
run's span analysis and per-layer numbers."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))


def median(xs):
    return statistics.median(xs) if xs else None


def tail(samples, ladder=TAIL_LADDER, min_beyond=MIN_BEYOND):
    """The highest ladder percentile with at least ``min_beyond`` samples
    beyond it, as ``(percentile, value, samples_beyond)`` with the
    nearest-rank value; None when even the lowest rung lacks the samples."""
    n = len(samples)
    xs = sorted(samples)
    best = None
    for p in ladder:
        rank = math.ceil(round(p * n / 100.0, 9))
        beyond = n - rank
        if rank >= 1 and beyond >= min_beyond:
            best = (p, xs[rank - 1], beyond)
    return best


def attribute_jobs(jobs, ops, slack_us=2000):
    """Map job id -> op id. A job's own op property wins when the job started
    inside that op's window; otherwise (no property, or a property inherited
    by a reused engine thread) the op whose window holds the job's start, the
    latest-starting one if windows nest. Jobs outside every op map to None."""
    windows = sorted(((o["start_us"], o["end_us"], o["id"]) for o in ops), key=lambda w: w[0])
    by_id = {w[2]: w for w in windows}
    out = {}
    for j in jobs:
        t = j["start_us"]
        own = by_id.get(j.get("op"))
        if own and own[0] - slack_us <= t <= own[1] + slack_us:
            out[j["job"]] = own[2]
            continue
        hit = [w for w in windows if w[0] - slack_us <= t <= w[1] + slack_us]
        out[j["job"]] = max(hit, key=lambda w: w[0])[2] if hit else None
    return out


def job_spans(jobs, spans, job_op, next_id):
    """One child span per Spark job, under the deepest span of its op that
    holds the job's start (clipped into that parent)."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    depth = span_depths(spans)
    out = []
    for j in jobs:
        op = job_op.get(j["job"])
        if op is None:
            continue
        holders = [s for s in by_op.get(op, []) if s["start_us"] <= j["start_us"] <= s["end_us"]]
        if not holders:
            holders = [s for s in by_op.get(op, []) if s["name"].startswith(("op.", "setup."))]
        if not holders:
            continue
        parent = max(holders, key=lambda s: (depth[s["id"]], s["start_us"]))
        start = min(max(j["start_us"], parent["start_us"]), parent["end_us"])
        end = max(min(j["end_us"], parent["end_us"]), start)
        out.append({"id": next_id, "parent": parent["id"], "name": "spark.job", "op": op,
                    "start_us": start, "end_us": end, "job": j["job"]})
        next_id += 1
    return out


def span_depths(spans):
    parent = {s["id"]: s["parent"] for s in spans}
    depth = {}

    def d(i):
        if i not in depth:
            p = parent.get(i, -1)
            depth[i] = 0 if p == -1 or p not in parent else d(p) + 1
        return depth[i]
    for s in spans:
        d(s["id"])
    return depth


def self_times(spans, lo, hi):
    """Self time of each span inside [lo, hi]: every instant is credited to
    the deepest span covering it (the later-started one where siblings
    overlap), so for properly nested spans self time is the span minus its
    children's coverage, and the self times plus the uncovered remainder
    sum exactly to ``hi - lo``. Returns ({span id: us}, uncovered us)."""
    depth = span_depths(spans)
    clipped = [(max(s["start_us"], lo), min(s["end_us"], hi), s) for s in spans]
    clipped = [(a, b, s) for a, b, s in clipped if b > a]
    points = sorted({lo, hi} | {a for a, _, _ in clipped} | {b for _, b, _ in clipped})
    own = {s["id"]: 0 for s in spans}
    uncovered = 0
    active = sorted(clipped, key=lambda c: c[0])
    for a, b in zip(points, points[1:]):
        covering = [s for x, y, s in active if x <= a and y >= b]
        if covering:
            top = max(covering, key=lambda s: (depth[s["id"]], s["start_us"], s["id"]))
            own[top["id"]] += b - a
        else:
            uncovered += b - a
    return own, uncovered


def end_to_end(run, verdicts):
    """End-to-end metrics and the failure accounting of one run record."""
    ops = [o for o in run["ops"] if o["kind"] != "setup"]
    failed = [o for o in ops if verdicts.get(o["id"]) is not None]
    good = [o["seconds"] for o in ops if verdicts.get(o["id"]) is None]
    t = tail(good)
    skips = [o["seconds"] for o in ops
             if o["kind"] == "cycle" and o["name"] == "rerun" and verdicts.get(o["id"]) is None]
    return {
        "setup_s": run["session_s"] + median(run["setup_prep_s"]),
        "wall_s": median([p["wall_s"] for p in run["passes"]]),
        "cpu_s": median([p["cpu_s"] for p in run["passes"]]),
        "op_p50_s": median(good),
        "op_tail_s": None if t is None else t[1],
        "op_tail_percentile": None if t is None else t[0],
        "op_tail_samples_beyond": None if t is None else t[2],
        "skip_cycle_s": median(skips),
        "fail_ratio": len(failed) / len(ops) if ops else None,
        "retained_heap_mb": run["retained_heap_mb"],
        "attempted": len(ops),
        "failed": len(failed),
        "samples": len(good),
        "passes": len(run["passes"]),
    }


def trace_analysis(run, cpus):
    """Spans (with one child per Spark job), self times, unattributed time and
    the per-layer metrics of a traced run record."""
    tr = run["trace"]
    spans = list(tr["spans"])
    ops = run["ops"]
    job_op = attribute_jobs(tr["jobs"], ops)
    next_id = max([s["id"] for s in spans], default=-1) + 1
    jspans = job_spans(tr["jobs"], spans, job_op, next_id)
    all_spans = spans + jspans
    attributed = [s for s in all_spans if s["name"] != "pass"]
    passes = []
    for p in run["passes"]:
        own, uncovered = self_times(attributed, p["start_us"], p["end_us"])
        passes.append({"pass": p["pass"], "wall_s": (p["end_us"] - p["start_us"]) / 1e6,
                       "self_s": sum(own.values()) / 1e6, "unattributed_s": uncovered / 1e6})
    own, uncovered = self_times(attributed, run["region_start_us"], run["region_end_us"])
    self_by_name = {}
    for s in attributed:
        self_by_name[s["name"]] = self_by_name.get(s["name"], 0.0) + own.get(s["id"], 0) / 1e6
    layers, absent = per_layer(run, tr, job_op, all_spans, cpus)
    return {"spans": all_spans, "passes": passes,
            "region_s": (run["region_end_us"] - run["region_start_us"]) / 1e6,
            "self_s_by_span_name": self_by_name, "unattributed_s": uncovered / 1e6,
            "layers": layers, "not_exercised": absent}


def _mb(b):
    return b / 1048576.0


def per_layer(run, tr, job_op, spans, cpus):
    ops = [o for o in run["ops"] if o["kind"] != "setup"]
    op_ids = {o["id"] for o in ops}
    setup_ids = {o["id"] for o in run["ops"] if o["kind"] == "setup"}
    jobs = tr["jobs"]
    stages = tr["stages"]
    stage_job = {s["stage"]: s["job"] for s in stages}
    region_jobs = [j for j in jobs if job_op.get(j["job"]) in op_ids]
    region_job_ids = {j["job"] for j in region_jobs}
    region_stages = [s for s in stages if stage_job.get(s["stage"]) in region_job_ids]
    n_ops = max(1, len(ops))
    probes = tr["probes"]

    def dur(name):
        return [(s["end_us"] - s["start_us"]) / 1e6 for s in spans if s["name"] == name]

    def per_op(x):
        return x / n_ops

    # driver gap: op wall minus the union of its job intervals
    gaps = []
    for o in ops:
        iv = sorted((j["start_us"], j["end_us"]) for j in region_jobs if job_op[j["job"]] == o["id"])
        covered, cur = 0, None
        for a, b in iv:
            a, b = max(a, o["start_us"]), min(b, o["end_us"])
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur = (cur[0], max(cur[1], b))
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = (a, b)
        if cur:
            covered += cur[1] - cur[0]
        gaps.append(max(0, o["end_us"] - o["start_us"] - covered) / 1e6)
    skews = []
    for s in region_stages:
        if len(s["task_ms"]) >= 2:
            med = statistics.median(s["task_ms"])
            skews.append(max(s["task_ms"]) / med if med > 0 else 1.0)
    exec_run = sum(s["run_ms"] for s in region_stages) / 1e3
    region_s = (run["region_end_us"] - run["region_start_us"]) / 1e6
    census = [o for o in ops if "plan_s" in o]
    setup_jobs = [sum(1 for j in jobs if job_op.get(j["job"]) == i) for i in sorted(setup_ids)]
    cycle_logs = run.get("cycle_logs", {})
    entries = [e for log in cycle_logs.values() for e in log]
    ok_files = sum(1 for e in entries if e[1] == "OK")
    skip_files = sum(1 for e in entries if e[1] == "SKIP")
    arrival_ok = sum(1 for o in ops if o["kind"] == "cycle" and o["name"] == "arrival"
                     for e in cycle_logs.get(str(o["id"]), []) if e[1] == "OK" and e[0].startswith("orders_"))
    run_spans = [s for s in spans if s["name"] == "incremental.run"]
    arrival_run_s = sum((s["end_us"] - s["start_us"]) / 1e6 for s in run_spans
                        if any(o["id"] == s["op"] and o["name"] == "arrival" for o in ops))
    inc_jobs = [s for s in spans if s["name"] == "spark.job"
                and any(r["op"] == s["op"] and r["start_us"] <= s["start_us"] <= r["end_us"]
                        for r in run_spans)]
    inc_job_ids = {s["job"] for s in inc_jobs}
    inc_written = sum(s["output"] for s in stages if stage_job.get(s["stage"]) in inc_job_ids)
    prog = tr["streaming"]
    layers = {
        "tables.read_s": probes["tables.read_s"],
        "quality.gate_s": probes["quality.gate_s"],
        "quality.rows_checked": probes["quality.rows_checked"],
        "gold.ensure_s": median(dur("gold.ensure")) or 0.0,
        "gold.jobs": median(setup_jobs) if run["workload"] == "dashboard" else 0,
        "gold.files": probes["gold.files"],
        "gold.bytes": probes["gold.bytes"],
        "plan.plan_s": median([o["plan_s"] for o in census]) or 0.0,
        "plan.exchanges": statistics.mean([o["exchanges"] for o in census]) if census else 0.0,
        "plan.scans": statistics.mean([o["scans"] for o in census]) if census else 0.0,
        "plan.files_scanned": statistics.mean([o["files_scanned"] for o in census]) if census else 0.0,
        "spark.jobs": per_op(len(region_jobs)),
        "spark.stages": per_op(len(region_stages)),
        "spark.tasks": per_op(sum(s["tasks"] for s in region_stages)),
        "spark.exec_run_s": per_op(exec_run),
        "spark.exec_cpu_s": per_op(sum(s["cpu_ns"] for s in region_stages) / 1e9),
        "spark.driver_gap_s": statistics.mean(gaps) if gaps else 0.0,
        "spark.sched_delay_s": per_op(sum(s["sched_delay_ms"] for s in region_stages) / 1e3),
        "spark.core_util": exec_run / (region_s * cpus) if region_s > 0 else 0.0,
        "spark.shuffle_read_mb": per_op(_mb(sum(s["shuffle_read"] for s in region_stages))),
        "spark.shuffle_write_mb": per_op(_mb(sum(s["shuffle_write"] for s in region_stages))),
        "spark.spill_mem_mb": per_op(_mb(sum(s["spill_mem"] for s in region_stages))),
        "spark.spill_disk_mb": per_op(_mb(sum(s["spill_disk"] for s in region_stages))),
        "spark.input_mb": per_op(_mb(sum(s["input"] for s in region_stages))),
        "spark.output_mb": per_op(_mb(sum(s["output"] for s in region_stages))),
        "spark.peak_exec_mem_mb": _mb(max([s["peak_mem"] for s in region_stages], default=0)),
        "spark.task_skew": median(skews) or 1.0,
        "storage.held_mb": _mb(max([o.get("held_bytes", 0) for o in ops], default=0)),
        "storage.blocks": max([o.get("blocks", 0) for o in ops], default=0),
        "landing.explode_s": median(dur("landing.explode")) or 0.0,
        "landing.files": probes["landing.files"],
        "landing.bytes": probes["landing.bytes"],
        "incremental.run_s": median(dur("incremental.run")) or 0.0,
        "incremental.files_ok": ok_files,
        "incremental.files_skip": skip_files,
        "incremental.s_per_new_file": arrival_run_s / arrival_ok if arrival_ok else 0.0,
        "incremental.jobs_per_file": len(inc_jobs) / len(entries) if entries else 0.0,
        "incremental.bytes_written": inc_written,
        "incremental.write_amp": (inc_written / probes["incremental.bytes_appended"]
                                  if probes["incremental.bytes_appended"] else 0.0),
        "incremental.techlog_read_s": median(dur("incremental.readTechLog")) or 0.0,
        "streaming.batches": len(prog),
        "streaming.batch_p50_ms": median([p["trigger_ms"] for p in prog]) or 0.0,
        "streaming.input_rows": sum(p["input_rows"] for p in prog),
        "streaming.state_rows": max([p["state_rows"] for p in prog], default=0),
        "streaming.state_mem_mb": _mb(max([p["state_mem"] for p in prog], default=0)),
        "streaming.wal_commit_ms": median([p["wal_commit_ms"] for p in prog]) or 0.0,
        "jvm.gc_s": run["gc_s"],
        "jvm.heap_after_gc_mb": run["retained_heap_mb"],
    }
    for k, v in probes.items():
        if k.startswith("kernel.") or k == "textops.tokens_s":
            layers[k] = v
    absent = {}
    wl = run["workload"]
    if wl != "dashboard":
        for k in ["gold.ensure_s", "gold.jobs", "gold.files", "gold.bytes"]:
            absent[k] = "Gold.ensure is not called by this workload"
    if wl != "batch":
        for k in [k for k in layers if k.startswith(("landing.", "incremental.", "streaming."))]:
            absent[k] = "the landing, incremental and streaming layers run only in the batch workload"
    return layers, absent
