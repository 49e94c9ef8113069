"""Turns the JVM's run records into end-to-end metrics, per-layer metrics,
the span tree and the trace reconciliation.

Record types (one JSON object per line in records.jsonl):
  op       pass, name, t0, tb, t1, ok, err, out   builder call is [t0, tb],
                                                   action [tb, t1]
  house    pass, name, t0, t1            work between ops
  pass     pass, t0, t1, traced
  span     name, t0, t1                  set-up phases
  job      id, t0, t1, stages, exec      (traced only, from a SparkListener)
  stage    id, attempt, tasks, t0, t1, run_ms, cpu_ns, gc_ms, input_b,
           shuffle_read_b, shuffle_write_b, spill_b
  sql      exec, t0, write               SQL execution start; `write` names
                                          the file format of a write command
  plan     phases [[name, start, end]]   QueryExecution.tracker phases
  storage  pass, mem_b, persisted       after each traced op
  progress pass, batch, rows, durations, state_rows, state_b,
           state_commit_ms, dropped      StreamingQueryProgress per batch
"""
from collections import defaultdict

import stats

MB = 1024.0 * 1024.0
# Listener times are whole epoch milliseconds, so a job or phase can
# appear to start up to 1 ms before the op that started it.
SLACK_MS = 1.0
# Reconciliation tolerance per op: 2 ms per listener interval in the op
# (up to 1 ms of truncation at each end) plus 1% of its wall.
RECONCILE_REL = 0.01

# Per-layer metrics every workload measures: these are the benchmark's
# per_layer metrics. The workload-specific ones (DETAIL) go to the result
# file only, since on the other workloads they would read 0 on every run.
PER_LAYER = [
    "operators.build_s", "operators.build_jobs", "catalyst.plan_s",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.driver_gap_s", "exec.stage_s", "exec.critical_s",
    "exec.task_s", "exec.cpu_s", "exec.core_util", "exec.single_task_s",
    "exec.input_mb", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
    "cache.storage_mb", "cache.persisted_rdds", "trace.pass_s"]
DETAIL = [
    "exec.gc_s", "exec.spill_mb", "export.csv_write_s", "export.package_s",
    "export.csv_mb", "export.package_mb", "stream.add_batch_s",
    "stream.planning_s", "stream.wal_commit_s", "stream.state_rows",
    "stream.state_mb", "stream.state_commit_s", "stream.dropped_by_watermark",
    "trace.reconcile_max_err_ms"]


def by_type(records):
    out = defaultdict(list)
    for r in records:
        out[r["type"]].append(r)
    return out


def op_failures(ops, bad):
    """Ops that threw, or whose output failed a check: `bad` holds
    (pass, name) pairs and bare passes (every op of the pass fails)."""
    return [o for o in ops
            if not o["ok"] or (o["pass"], o["name"]) in bad or o["pass"] in bad]


def end_to_end(rt, bad):
    """Metrics from the untraced timed passes, plus the op median and tail
    for the result file. A failed op's time is dropped, and a pass with a
    failed op gives no pass time."""
    passes = [p for p in rt["pass"] if not p["traced"]]
    ids = {p["pass"] for p in passes}
    ops = [o for o in rt["op"] if o["pass"] in ids]
    failed = op_failures(ops, bad)
    failed_ids = {id(o) for o in failed}
    good = [o for o in ops if id(o) not in failed_ids]
    bad_passes = {o["pass"] for o in failed}
    walls = [p["t1"] - p["t0"] for p in passes if p["pass"] not in bad_passes]
    times = [o["t1"] - o["t0"] for o in good]
    metrics, extra = {}, {"ops": len(times)}
    if walls:
        metrics["pass_s"] = stats.median(walls) / 1000.0
    if times:
        metrics["op_geomean_ms"] = stats.geomean(times)
        extra["op_p50_ms"] = stats.median(times)
        extra["op_tail"] = stats.tail_percentile(times)
    return metrics, extra, len(ops), len(failed)


def _op_jobs(op, jobs):
    return [j for j in jobs
            if op["t0"] - SLACK_MS <= j["t0"] <= op["t1"] + SLACK_MS]


def _op_plans(op, plans):
    out = []
    for p in plans:
        for name, s, e in p["phases"]:
            if op["t0"] - SLACK_MS <= s <= op["t1"] + SLACK_MS:
                out.append((name, float(s), float(e)))
    return out


def decompose(op, rt, kind):
    """Split one traced op's wall into builder, planning, job-covered time
    and driver gap. For an export package the builder part runs from the
    call to the first CSV write (ExportMain's report construction); the
    rest is ExportJob.run."""
    lo, hi = op["t0"], op["t1"]
    jobs = _op_jobs(op, rt["job"])
    plans = _op_plans(op, rt["plan"])
    csv_execs = {s["exec"] for s in rt["sql"] if s["write"] == "csv"
                 and lo - SLACK_MS <= s["t0"] <= hi + SLACK_MS}
    tb = op["tb"]
    if kind == "export_month":
        starts = [s["t0"] for s in rt["sql"] if s["exec"] in csv_execs]
        tb = max(lo, min(starts)) if starts else lo
    build = tb - lo
    job_iv = stats.clip([(j["t0"], j["t1"]) for j in jobs], tb, hi)
    plan_iv = stats.clip([(s, e) for _, s, e in plans], tb, hi)
    job_s = stats.length(job_iv)
    plan_s = stats.length(plan_iv)
    gap = stats.uncovered(tb, hi, job_iv + plan_iv)
    wall = hi - lo
    err = abs(build + plan_s + job_s + gap - wall)
    tol = RECONCILE_REL * wall + 2 * SLACK_MS * (len(jobs) + len(plans))
    csv_jobs = [j for j in jobs if j["exec"] in csv_execs]
    return {
        "wall": wall, "build": build, "plan": plan_s, "job": job_s,
        "gap": gap, "err": err, "tol": tol,
        "plan_all": sum(e - s for _, s, e in plans),
        "jobs": jobs, "plans": plans,
        "build_jobs": sum(1 for j in jobs if j["t0"] < tb),
        "csv_write": stats.length([(j["t0"], j["t1"]) for j in csv_jobs]),
        "package": (hi - max(j["t1"] for j in jobs)) if csv_jobs else 0.0,
    }


def per_layer(rt, kind, cores, package_sizes):
    """Per-layer metrics from the traced passes, each averaged per pass:
    the PER_LAYER metrics, the workload-specific DETAIL ones, the
    reconciliation report and the span tree."""
    traced = [p for p in rt["pass"] if p["traced"]]
    ids = {p["pass"] for p in traced}
    n = max(len(traced), 1)
    ops = [o for o in rt["op"] if o["pass"] in ids]
    stages = {}
    for s in rt["stage"]:
        stages[(s["id"], s["attempt"])] = s
    stages_by_id = defaultdict(list)
    for s in stages.values():
        stages_by_id[s["id"]].append(s)

    tot = defaultdict(float)
    recon = []
    trees = []
    for o in ops:
        d = decompose(o, rt, kind)
        recon.append({"pass": o["pass"], "op": o["name"], "wall_ms": d["wall"],
                      "build_ms": d["build"], "plan_ms": d["plan"],
                      "job_ms": d["job"], "gap_ms": d["gap"],
                      "err_ms": d["err"], "tol_ms": d["tol"]})
        tot["operators.build_s"] += d["build"] / 1000.0
        tot["operators.build_jobs"] += d["build_jobs"]
        tot["catalyst.plan_s"] += d["plan_all"] / 1000.0
        tot["scheduler.driver_gap_s"] += d["gap"] / 1000.0
        tot["scheduler.jobs"] += len(d["jobs"])
        tot["export.csv_write_s"] += d["csv_write"] / 1000.0
        tot["export.package_s"] += d["package"] / 1000.0
        op_stages = [s for j in d["jobs"] for sid in j["stages"]
                     for s in stages_by_id.get(sid, [])]
        op_stages = list({(s["id"], s["attempt"]): s for s in op_stages}.values())
        ivs = [(s["t0"], s["t1"]) for s in op_stages
               if s["t0"] is not None and s["t1"] is not None]
        tot["scheduler.stages"] += len(op_stages)
        tot["scheduler.tasks"] += sum(s["tasks"] for s in op_stages)
        tot["exec.stage_s"] += sum(b - a for a, b in ivs) / 1000.0
        tot["exec.critical_s"] += stats.length(ivs) / 1000.0
        tot["exec.single_task_s"] += sum(
            s["t1"] - s["t0"] for s in op_stages
            if s["tasks"] == 1 and s["t0"] is not None
            and s["t1"] is not None) / 1000.0
        for key, field, scale in [
                ("exec.task_s", "run_ms", 1e3), ("exec.cpu_s", "cpu_ns", 1e9),
                ("exec.gc_s", "gc_ms", 1e3), ("exec.input_mb", "input_b", MB),
                ("exec.shuffle_read_mb", "shuffle_read_b", MB),
                ("exec.shuffle_write_mb", "shuffle_write_b", MB),
                ("exec.spill_mb", "spill_b", MB)]:
            tot[key] += sum(s.get(field, 0) for s in op_stages) / scale
        trees.append(span_tree(o, d, op_stages))

    m = defaultdict(float, {k: v / n for k, v in tot.items()})
    # a streaming query is built once per pass (its `build` span between
    # ops), and every micro-batch plans its own incremental execution
    builds = [h for h in rt["house"] if h["pass"] in ids and h["name"] == "build"]
    m["operators.build_s"] += sum(h["t1"] - h["t0"] for h in builds) / 1000.0 / n
    prog = [p for p in rt["progress"] if p["pass"] in ids]
    for key, dur in [("stream.add_batch_s", "addBatch"),
                     ("stream.planning_s", "queryPlanning"),
                     ("stream.wal_commit_s", "walCommit")]:
        m[key] = sum(dict(p["durations"]).get(dur, 0) for p in prog) / 1000.0 / n
    m["catalyst.plan_s"] += m["stream.planning_s"]
    m["stream.state_commit_s"] = sum(p["state_commit_ms"] for p in prog) / 1000.0 / n
    m["stream.dropped_by_watermark"] = sum(p["dropped"] for p in prog) / n
    last = {}
    for p in prog:
        if p["batch"] >= last.get(p["pass"], {"batch": -1})["batch"]:
            last[p["pass"]] = p
    m["stream.state_rows"] = sum(p["state_rows"] for p in last.values()) / n
    m["stream.state_mb"] = sum(p["state_b"] for p in last.values()) / MB / n

    wall_s = sum(p["t1"] - p["t0"] for p in traced) / 1000.0 / n
    m["exec.core_util"] = round(m["exec.task_s"] / (wall_s * cores), 4) if wall_s else 0.0
    storage = [s for s in rt["storage"] if s["pass"] in ids]
    m["cache.storage_mb"] = max((s["mem_b"] for s in storage), default=0) / MB
    m["cache.persisted_rdds"] = max((s["persisted"] for s in storage), default=0)
    pk = [package_sizes[p] for p in sorted(ids) if p in package_sizes]
    m["export.csv_mb"] = sum(c for c, _ in pk) / MB / n
    m["export.package_mb"] = sum(z for _, z in pk) / MB / n
    for k in list(m):
        if k.endswith("_mb"):
            m[k] = round(m[k], 2)

    detail = {k: m[k] for k in DETAIL if k in m}
    per = {k: m[k] for k in PER_LAYER if k != "trace.pass_s"}
    return per, detail, reconcile(rt, recon, ids), trees


def reconcile(rt, recon, ids):
    """Per op: builder + planning + job-covered + driver gap = wall within
    the op's tolerance. Per pass: ops plus the work between them = pass
    wall, and no traced job falls outside every op and house span."""
    op_bad = [r for r in recon if r["err_ms"] > r["tol_ms"]]
    passes = []
    for p in rt["pass"]:
        if p["pass"] not in ids:
            continue
        parts = [o["t1"] - o["t0"] for o in rt["op"] if o["pass"] == p["pass"]]
        parts += [h["t1"] - h["t0"] for h in rt["house"] if h["pass"] == p["pass"]]
        wall = p["t1"] - p["t0"]
        passes.append({"pass": p["pass"], "wall_ms": wall,
                       "parts_ms": sum(parts), "err_ms": abs(wall - sum(parts))})
    pass_bad = [p for p in passes if p["err_ms"] > max(RECONCILE_REL * p["wall_ms"], 5.0)]
    spans = [(o["t0"] - SLACK_MS, o["t1"] + SLACK_MS) for o in rt["op"]
             if o["pass"] in ids]
    spans += [(h["t0"] - SLACK_MS, h["t1"] + SLACK_MS) for h in rt["house"]
              if h["pass"] in ids]
    lo = min((p["t0"] for p in rt["pass"] if p["pass"] in ids), default=0)
    hi = max((p["t1"] for p in rt["pass"] if p["pass"] in ids), default=0)
    orphan = [j for j in rt["job"] if lo <= j["t0"] <= hi and not any(
        a <= j["t0"] <= b for a, b in spans)]
    return {"ok": not op_bad and not pass_bad and not orphan,
            "op_tolerance": f"{RECONCILE_REL:.0%} of wall + 2 ms per listener interval",
            "max_op_err_ms": max((r["err_ms"] for r in recon), default=0.0),
            "ops_out_of_tolerance": op_bad, "passes": passes,
            "passes_out_of_tolerance": pass_bad,
            "jobs_outside_spans": [j["id"] for j in orphan], "ops": recon}


def span_tree(op, d, op_stages):
    """op -> builder / action -> Catalyst phases and jobs -> stages, each
    with its self time (duration minus the time its children cover)."""
    def node(name, t0, t1, children=()):
        children = list(children)
        cov = stats.length(stats.clip([(c["t0"], c["t1"]) for c in children], t0, t1))
        return {"name": name, "t0": t0, "t1": t1, "dur_ms": t1 - t0,
                "self_ms": (t1 - t0) - cov, "children": children}
    tb = op["t0"] + d["build"]
    stage_of = {s["id"]: s for s in op_stages}
    jobs = [node(f"job {j['id']}", j["t0"], j["t1"], [
        node(f"stage {sid}", stage_of[sid]["t0"], stage_of[sid]["t1"])
        for sid in j["stages"] if sid in stage_of
        and stage_of[sid]["t0"] is not None and stage_of[sid]["t1"] is not None])
        for j in d["jobs"]]
    plans = [node(f"catalyst {name}", s, e) for name, s, e in d["plans"]]
    inner = sorted(jobs + plans, key=lambda c: c["t0"])
    build = [c for c in inner if c["t0"] < tb]
    action = [c for c in inner if c["t0"] >= tb]
    kids = []
    if d["build"] > 0:
        kids.append(node("build", op["t0"], tb, build))
    kids.append(node("action", tb, op["t1"], action))
    return node(f"op {op['name']} (pass {op['pass']})", op["t0"], op["t1"], kids)
