#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the program
and the harness from source with sbt (perfbench/build.sbt) into
.bench_build/; later runs reuse the build while the sources are unchanged.
Each run generates its inputs from the seed, runs the workload in one JVM
on local[4], checks the outputs, and prints one JSON object as the last
line of standard output. See perfbench/README.md for the workloads and
every metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

CORES = 4
JVM_HEAP = "4g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 600
# Set-up is repeated this many times per run (input generation) and the
# median reported.
GEN_REPEATS = 3
# C1 only. With the default tiered JIT, C2 keeps both of its compiler
# threads busy for more than 80 s of packages on 4 cores, and the package
# time falls by a third over that span; a run cannot warm up that long,
# so its timed packages would sit at a different point of that curve in
# every run. C1 code is slower but flat from the second package on, so
# one warm pass is enough.
JIT = "-XX:TieredStopAtLevel=1"

WORKLOADS = {
    "export_month": {
        "inputs": {"sf": 0.01, "export": True},
    },
    "stream_intake": {
        "inputs": {"corpus": {"docs": 600, "factor": 16, "files": 2 * CORES}},
        "args": {"batch": "1600"},
    },
}

UNITS = {"s": "s", "ms": "ms", "mb": "MB"}


def unit_of(name):
    if name in ("exec.core_util",):
        return "ratio"
    suffix = name.rsplit("_", 1)[-1]
    return UNITS.get(suffix, "count")


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build compiles, to tell a stale build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(bdir):
    """Compile graft and the harness; returns the runtime classpath."""
    stamp_file = os.path.join(bdir, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            stamp = json.load(f)
        if stamp.get("digest") == digest:
            return stamp["classpath"]
    os.makedirs(bdir, exist_ok=True)
    log("building graft and the harness with sbt (first run in this checkout)")
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(bdir, 'sbt-global')}",
           "compile", "export Runtime/fullClasspath"]
    with open(os.path.join(bdir, "build.log"), "w") as logf:
        p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE,
                           stderr=logf, text=True, timeout=BUILD_TIMEOUT_S)
        logf.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        raise RuntimeError(f"build failed (see {bdir}/build.log)")
    cp = lines[-1].strip()
    with open(stamp_file, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


def tree_digest(d):
    h = hashlib.sha256()
    for root, dirs, files in os.walk(d):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def fresh_dir(d):
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)


def jvm_command(cp, work, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [JIT, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dderby.system.home={work}/derby",
            f"-Djava.io.tmpdir={work}/tmp",
            "-cp", cp, "perfbench.Main"]
    return cmd + [f"{k}={v}" for k, v in args.items()]


def read_records(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def run(args):
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"{ROOT} is not a graft checkout: build.sbt and src/main/scala/graft "
            "are needed to build the program under test")
        return 2
    spec = WORKLOADS[args.workload]
    bdir = os.path.join(ROOT, ".bench_build")
    cp = build(bdir)

    data = os.path.join(bdir, "data", args.workload)
    work = os.path.join(bdir, "work", args.workload)
    gen_s, digests = [], []
    for _ in range(GEN_REPEATS):
        fresh_dir(data)
        t = time.time()
        inputs = gen.generate(data, args.seed, spec["inputs"], ROOT)
        gen_s.append(time.time() - t)
        digests.append(tree_digest(data))
    fresh_dir(work)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    jvm_args = {"workload": args.workload, "data": data, "work": work,
                "seconds": args.seconds, "trace": args.trace, "cores": CORES,
                "seed": args.seed, **spec.get("args", {})}
    t_jvm = time.time()
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        try:
            proc = subprocess.run(jvm_command(cp, work, jvm_args), cwd=work,
                                  stdout=logf, stderr=subprocess.STDOUT,
                                  env=env, timeout=JVM_TIMEOUT_S)
            rc = proc.returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    rec_path = os.path.join(work, "records.jsonl")
    if rc != 0 or not os.path.exists(rec_path):
        log(f"workload JVM ended with {rc}; see {work}/jvm.log")
        return 1
    rt = layers.by_type(read_records(rec_path))
    timed = [o for o in rt["op"] if o["pass"] >= 0]
    if not timed:
        log("no timed op was recorded")
        return 1
    # set-up: median input generation plus JVM launch to the first timed op
    setup_s = stats.median(gen_s) + (min(o["t0"] for o in timed) / 1000.0 - t_jvm)

    sizes = {}
    if args.workload == "export_month":
        bad, notes, sizes = checks.export_packages(rt, data, work)
    else:
        bad, notes = checks.stream_matches_batch(rt)
    if len(set(digests)) != 1:
        notes.append("input generation is not deterministic for this seed")
    failed_timed = layers.op_failures(timed, bad)

    e2e, e2e_extra, _, _ = layers.end_to_end(rt, bad)
    result = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "inputs": inputs, "setup": {"gen_s": gen_s, "jvm_launch": t_jvm,
                                          "spans": rt["span"]},
              "check_notes": notes, "op_stats": e2e_extra,
              "ops": [(o["pass"], o["name"], o["t1"] - o["t0"], o["tb"] - o["t0"], o["ok"])
                      for o in rt["op"]],
              "failed_ops": [(o["pass"], o["name"], o["err"]) for o in failed_timed]}
    correct = not notes and not failed_timed
    if args.trace:
        metrics, detail, recon, trees = layers.per_layer(rt, args.workload, CORES, sizes)
        # compared with pass_s of an untraced run, this gives the overhead
        metrics["trace.pass_s"] = stats.median(
            [p["t1"] - p["t0"] for p in rt["pass"] if p["traced"]]) / 1000.0
        detail["trace.reconcile_max_err_ms"] = recon["max_op_err_ms"]
        result.update(layer_detail=detail, reconciliation=recon, spans=trees)
        correct = correct and recon["ok"]
    else:
        metrics = dict(e2e, setup_s=setup_s)
    result["metrics"] = metrics
    os.makedirs(os.path.join(bdir, "results"), exist_ok=True)
    out = os.path.join(bdir, "results",
                       f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(result, f, indent=1, default=str)
    for n in notes:
        log(f"check failed: {n}")
    print(json.dumps({
        "correct": bool(correct), "attempted": len(timed),
        "failed": len(failed_timed),
        "metrics": {k: {"value": v, "unit": unit_of(k)}
                    for k, v in sorted(metrics.items())}}))
    return 0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
