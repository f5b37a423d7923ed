"""Per-layer metrics of a traced run, computed from the spans the harness
recorded at each layer boundary (operation, job, stage, plan) plus the
streaming progress, kernel and operator probes.

Every layer metric is reported for every workload, so a layer the
workload does not exercise reads 0 (no micro-batches on `query_mix`, for
instance). Per-operation quantities are medians over the traced
operations: queries on the board workloads, micro-batches on the stream.
"""
import json
import os
import statistics

import metrics as M

# name -> unit, in the order of the printout: the per_layer list of
# BENCHMARK.json, the one place the names are kept
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as _fh:
    PER_LAYER = {m["name"]: m["unit"] for m in json.load(_fh)["per_layer"]}

PLAN_PHASES = ("analysis", "optimization", "physical")

STAGE_SUMS = {
    "dispatch.tasks": "tasks", "dispatch.sched_delay_ms": "sched_delay_ms",
    "compute.task_ms": "task_ms", "compute.cpu_ms": "cpu_ms", "compute.gc_ms": "gc_ms",
    "exchange.shuffle_write_bytes": "shuffle_write_bytes",
    "exchange.shuffle_read_bytes": "shuffle_read_bytes",
    "exchange.fetch_wait_ms": "fetch_wait_ms", "exchange.spill_bytes": "spill_bytes",
    "exchange.scan_bytes": "scan_bytes", "exchange.scan_rows": "scan_rows",
}


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def operations(workload, raw):
    """The traced operations as (op id, start, end)."""
    if workload == "calls_stream":
        t_on = raw.get("trace_on_ms", raw["measure_start_ms"])
        return [(f"batch-{p['batch']}", p["start"], p["end"]) for p in raw["progress"]
                if t_on <= p["start"] < raw["measure_end_ms"] + 1]
    return [(s["op"], s["start"], s["end"]) for s in raw["spans"]
            if s["kind"] == "op" and s["attrs"].get("traced")]


def per_op(workload, raw):
    """Per-operation layer totals: the op's jobs and stages (tied by the op
    property), and the plan spans that fall inside its interval."""
    ops = operations(workload, raw)
    jobs, stages, plans = {}, {}, []
    for s in raw["spans"]:
        if s["kind"] == "job":
            jobs.setdefault(s["op"], []).append(s)
        elif s["kind"] == "stage":
            stages.setdefault(s["op"], []).append(s)
        elif s["kind"] == "plan":
            plans.append(s)
    rows = []
    for op, t0, t1 in ops:
        js = jobs.get(op, [])
        ss = stages.get(op, [])
        ps = [p for p in plans if t0 <= p["start"] and p["end"] <= t1 + 1]
        wall = t1 - t0
        job_iv = [(j["start"], j["end"]) for j in js]
        plan_iv = [(p["attrs"][f"{ph}_t0"], p["attrs"][f"{ph}_t1"])
                   for p in ps for ph in PLAN_PHASES if f"{ph}_t0" in p["attrs"]]
        r = {
            "wall": wall,
            **{f"planning.{ph}_ms": sum(p["attrs"].get(f"{ph}_ms", 0.0) for p in ps)
               for ph in PLAN_PHASES},
            "planning.executions": len(ps),
            "planning.driver_outside_jobs_ms": M.self_time((t0, t1), job_iv),
            # the share of the op's wall its plan phases and jobs explain,
            # each measured on its own; the rest is driver time no span covers
            "accounted": M.covered_share((t0, t1), job_iv + plan_iv),
            "planning.unexplained_driver_ms": M.self_time((t0, t1), job_iv + plan_iv),
            "dispatch.jobs": len(js),
            "dispatch.stages": len(ss),
            "skew": max((s["attrs"].get("skew", 1.0) for s in ss), default=0.0),
        }
        for k, attr in STAGE_SUMS.items():
            r[k] = sum(s["attrs"].get(attr, 0.0) for s in ss)
        rows.append(r)
    return rows


def streaming(workload, raw, sched):
    if workload != "calls_stream":
        return {}
    m0, m1 = raw["measure_start_ms"], raw["measure_end_ms"]
    prog = [p for p in raw["progress"] if m0 <= p["start"] < m1]
    full = [p for p in prog if p["rows"] > 0]
    empty = [p for p in prog if p["rows"] == 0]
    dur = [p["end"] - p["start"] for p in prog]
    d = lambda k, ps: _med([p["durations"].get(k, 0.0) for p in ps])  # noqa: E731
    # backlog at measure end: appended events no finished batch covered yet
    done_off = max((p["end_offset"] for p in raw["progress"] if p["end"] <= m1), default=-1)
    backlog = sum(c[1] - c[0] for c in raw["chunks"] if c[3] <= m1 and c[2] > done_off)
    t0 = raw["stream_t0_ms"]
    late = [c[3] - (t0 + sched["due_ms"][k]) for c in raw["chunks"]
            if m0 <= c[3] < m1 for k in range(c[0], c[1])]
    return {
        "streaming.batches": len(prog),
        "streaming.batch_ms_p50": _med(dur),
        "streaming.batch_ms_max": max(dur, default=0.0),
        "streaming.add_batch_ms": d("addBatch", full),
        "streaming.query_planning_ms": d("queryPlanning", full),
        "streaming.wal_commit_ms": d("walCommit", full),
        "streaming.commit_offsets_ms": d("commitOffsets", full),
        "streaming.rows_per_batch": _med([p["rows"] for p in full]),
        "streaming.empty_batch_ms": _med([p["end"] - p["start"] for p in empty]),
        "streaming.backlog_rows_end": backlog,
        "streaming.state_rows": _med([p["state_rows"] for p in prog]),
        "streaming.state_bytes": _med([p["state_bytes"] for p in prog]),
        "streaming.state_commit_ms": _med([p["state_commit_ms"] for p in prog]),
        "streaming.late_rows_dropped": sum(p["dropped"] for p in raw["progress"]),
        "streaming.gen_lateness_ms_p99": M.percentile(late, 99) if late else 0.0,
    }


def queries(cfg, raw):
    fam = {q: f for f, qs in cfg.get("families", {}).items() for q in qs}
    by = {}
    for o in raw["ops"]:
        if o["phase"] == "measure" and o["ok"]:
            f = fam.get(o["name"].split("#")[0])
            by.setdefault(f, []).append(o["end"] - o["start"])
    return {f"queries.{f}_ms": _med(by.get(f, [])) for f in
            ("reference", "relational", "fixpoint", "served", "curation_full", "curation_delta")}


def overhead(workload, raw):
    """Traced minus untraced operation time: on the board workloads every
    other timed operation is traced (compared per query); on the stream the
    second half of the measured phase is."""
    if workload == "calls_stream":
        t_on = raw.get("trace_on_ms", raw["measure_end_ms"])
        prog = [p for p in raw["progress"] if raw["measure_start_ms"] <= p["start"] < raw["measure_end_ms"]]
        off = [p["end"] - p["start"] for p in prog if p["start"] < t_on]
        on = [p["end"] - p["start"] for p in prog if p["start"] >= t_on]
    else:
        traced = {s["op"]: s["attrs"].get("traced", 0) for s in raw["spans"] if s["kind"] == "op"}
        meas = [o for o in raw["ops"] if o["phase"] == "measure" and o["ok"]]
        # compare the same queries in both halves: per-query medians, paired
        pairs = {}
        for o in meas:
            q = o["name"].split("#")[0]
            pairs.setdefault(q, ([], []))[1 if traced.get(o["name"]) else 0].append(
                o["end"] - o["start"])
        both = [(q, a, b) for q, (a, b) in pairs.items() if a and b]
        off = [_med(a) for _, a, _ in both]
        on = [_med(b) for _, _, b in both]
    if not off or not on:
        return 0.0, 0.0
    diff = sum(on) / len(on) - sum(off) / len(off)
    base = sum(off) / len(off)
    return diff, diff / base if base else 0.0


def per_layer(workload, cfg, raw, sched):
    rows = per_op(workload, raw)
    out = {k: 0.0 for k in PER_LAYER}
    for k in list(STAGE_SUMS) + ["planning.analysis_ms", "planning.optimization_ms",
                                 "planning.physical_ms", "planning.executions",
                                 "planning.driver_outside_jobs_ms",
                                 "planning.unexplained_driver_ms", "dispatch.jobs",
                                 "dispatch.stages"]:
        out[k] = _med([r[k] for r in rows])
    out["planning.accounted_share_min"] = min((r["accounted"] for r in rows), default=0.0)
    out["compute.stage_skew_max"] = max((r["skew"] for r in rows), default=0.0)
    wall = sum(r["wall"] for r in rows)
    cores = raw.get("cores", 1)
    out["compute.core_util"] = sum(r["compute.task_ms"] for r in rows) / (wall * cores) \
        if wall else 0.0
    out["dispatch.cal_job_ms"] = _med([p["ms"] for p in raw["probes"]])
    out["cache.blocks_left"] = max((o["blocks_left"] for o in raw["ops"]), default=0)
    out["cache.storage_peak_mb"] = raw.get("storage_peak_bytes", 0) / 1048576.0
    for k, v in raw.get("kernels_ns_row", {}).items():
        out[f"kernels.{k}_ns_row"] = v
    for k, v in raw.get("operators_s", {}).items():
        out[f"operators.{k}_s"] = v
    out.update(streaming(workload, raw, sched))
    out.update(queries(cfg, raw))
    out["trace.overhead_ms"], out["trace.overhead_share"] = overhead(workload, raw)
    out["trace.spans"] = len(raw["spans"])
    return {k: {"value": float(out[k]), "unit": PER_LAYER[k]} for k in PER_LAYER}
