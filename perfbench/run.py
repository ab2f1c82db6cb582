#!/usr/bin/env python3
"""perfbench: graft's benchmark. See README.md in this directory.

    python3 perfbench/run.py --workload daily_job --seed 1 --seconds 10 --trace 0

Builds graft and the harness from source (once per source change), makes
the workload's inputs from the seed, launches one JVM with `java -cp`,
checks the outputs after the timed region and prints, as its last line,
one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics, or with `--trace 1` the per-layer ones).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import check
import gen
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("daily_job", "heavy_queries")
SLOTS = 3            # Spark task slots; below the 4 cores of the reference box
HEAP = "4g"          # fixed heap: -Xms = -Xmx
DAILY_DAYS = 150     # business days of daily-job inputs
TABLE_SEED = 42      # the query workloads' tables are fixed; the seed orders
SCALE, CHECK_SCALE = 0.1, 0.01
JVM_TIMEOUT_S = 120
OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
OUT = os.path.join(HERE, ".out")


class Interrupted(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(REPO, "build.sbt")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness with sbt when sources changed; return
    the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(REPO, need)):
            raise SystemExit(f"perfbench: graft sources not found ({need}); "
                             "run from a checkout of the repository")
    target = os.path.join(HERE, "target")
    cp_file, stamp_file = os.path.join(target, "classpath.txt"), os.path.join(target, "stamp")
    stamp = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"))
    log("building graft and the harness with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True)
    cps = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(target, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    os.sync()  # the build's writes reach the disk before anything is timed
    return cps[-1]


def gen_digest():
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def tables(scale):
    """The query tables at `scale`, made once per checkout and generator
    version and then only read: every run of every seed reads the same
    tables, so a cached copy changes nothing a run measures."""
    base, name = os.path.join(HERE, ".data"), f"sf{scale}-{TABLE_SEED}-{gen_digest()[:12]}"
    d = os.path.join(base, name)
    if not os.path.exists(os.path.join(d, ".complete")):
        for old in os.listdir(base) if os.path.isdir(base) else []:
            if old.startswith(f"sf{scale}-"):  # an older generator's tables
                shutil.rmtree(os.path.join(base, old))
        gen.tables(d, scale, TABLE_SEED)
        open(os.path.join(d, ".complete"), "w").close()
    return d


def jvm_flags(root):
    # the heap is touched once at start, inside set-up: no run phase pays
    # page faults for fresh heap, whose cost follows the host, not graft
    return ([f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch"] +
            [a for o in OPENS for a in ("--add-opens", f"{o}=ALL-UNNAMED")] +
            [f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
             f"-Dderby.system.home={os.path.join(root, 'metastore')}",
             f"-Dderby.stream.error.file={os.path.join(root, 'derby.log')}"])


def launch(cp, root, args, name):
    """Run the harness JVM in `root` and return its result JSON."""
    out = os.path.join(root, f"{name}.json")
    env = dict(os.environ)
    env.update(SPARK_GRAFT_SCRATCH_DIR=os.path.join(root, "scratch"),
               SPARK_GRAFT_FIXTURE_CACHE=os.path.join(root, "fixtures"))
    cmd = ["java"] + jvm_flags(root) + ["-cp", cp, "perfbench.Main", "--root", root,
                                       "--slots", str(SLOTS), "--out", out] + args
    with open(os.path.join(root, f"{name}.log"), "w") as logf:
        proc = subprocess.Popen(cmd + ["--launch-ns", str(time.time_ns())], cwd=root,
                                env=env, stdin=subprocess.DEVNULL, stdout=logf,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(root, f"{name}.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: harness JVM failed (exit {rc})")
    with open(out) as f:
        return json.load(f)


def summarize(res):
    units = res["units"]
    warm = [u for u in units if u["pass"] >= 1 and u["error"] is None]
    secs = [u["s"] for u in warm]
    passes = {}
    for u in units:
        if u["pass"] >= 1:
            passes.setdefault(u["pass"], []).append(u)
    pass_times = [sum(u["s"] + u["cleanup_s"] for u in us) for us in passes.values()
                  if all(u["error"] is None for u in us)]
    metrics = {
        "setup_s": res["setup_s"],
        "first_s": res["first_s"],
        "unit_p50_s": statistics.median(secs) if secs else float("nan"),
        "pass_s": statistics.median(pass_times) if pass_times else float("nan"),
        "rss_over_heap_mb": res["rss_over_heap_mb"],
    }
    t = stats.tail(secs)
    per_name = {}
    for u in units:
        if u["error"] is None:
            per_name.setdefault(u["name"], ([], []))[u["pass"] >= 1].append(u["s"])
    meta = {"warm_units": len(secs), "warm_passes": len(pass_times),
            # reported only where at least ten samples lie beyond it
            "unit_tail": t and {"percentile": t[0], "s": t[1], "samples": len(secs)},
            "per_query": None if res["workload"] == "daily_job" else
            {n: [round(sum(c), 4), round(statistics.median(w), 4) if w else None]
             for n, (c, w) in sorted(per_name.items())}}
    return metrics, meta


def run(a):
    if a.workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {a.workload}; one of {WORKLOADS}")
    cp = build()
    runs = os.path.join(HERE, ".runs")
    root = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    for d in ("tmp", "scratch", "fixtures", "local", "warehouse", "metastore"):
        os.makedirs(os.path.join(root, d))
    t0 = time.time()
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
        if a.workload == "daily_job":
            daily_dir = os.path.join(root, "daily")
            gen.daily(daily_dir, a.seed, DAILY_DAYS)
            args += ["--daily", daily_dir]
        else:
            data, small = tables(SCALE), tables(CHECK_SCALE)
            args += ["--data", data, "--check-data", small]
        t_gen = time.time() - t0
        res = launch(cp, root, args, "run")
        if a.workload == "daily_job":
            with open(os.path.join(daily_dir, "manifest.json")) as f:
                manifest = json.load(f)
            # digests are compared across runs of the same code and inputs
            version = hashlib.sha256((sources_digest() + gen_digest()).encode()).hexdigest()
            results = check.daily(res["checks"], manifest, os.path.join(
                OUT, f"daily-digests-{a.seed}-{version[:12]}.json"))
        else:
            results = check.queries(res["checks"], small)
        unit_errors = [(u["name"], u["error"]) for u in res["units"] if u["error"]]
        check_errors = [(n, e) for n, e in results if e]
        metrics, meta = summarize(res)
        meta.update(workload=a.workload, seed=a.seed, trace=a.trace, slots=SLOTS,
                    heap=HEAP, canary_s=[res["canary_start_s"], res["canary_end_s"]],
                    loadavg=[res["loadavg_start"], res["loadavg_end"]],
                    unit_errors=unit_errors[:10],
                    gen_s=t_gen, warm_wall_s=res["warm_wall_s"],
                    wall_s=time.time() - t0,
                    check_errors=check_errors[:10], checks=len(results))
        os.makedirs(OUT, exist_ok=True)
        # the last untraced run of this workload: the traced run's overhead basis
        baseline = os.path.join(OUT, f"untraced-{a.workload}.json")
        if a.trace:
            values = dict(res["layers"], **{"trace.unit_p50_s": metrics["unit_p50_s"]})
            if os.path.exists(baseline):
                with open(baseline) as f:
                    base = json.load(f)["unit_p50_s"]
                meta["trace_overhead"] = metrics["unit_p50_s"] / base - 1
            meta["split"] = res["split"]
            with open(os.path.join(OUT, f"trace-{a.workload}.json"), "w") as f:
                json.dump({"seed": a.seed, "spans": res["spans"], "layers": values,
                           "warm_jobs_by_module": res["jobs_by_module"],
                           "split": res["split"]}, f)
        else:
            values = metrics
            with open(baseline, "w") as f:
                json.dump(metrics, f)
        with open(os.path.join(REPO, "BENCHMARK.json")) as f:
            spec = json.load(f)["per_layer" if a.trace else "end_to_end"]
        out_metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
        print(json.dumps(meta, sort_keys=True))
        failed = len(unit_errors) + len(check_errors)
        print(json.dumps({"correct": failed == 0, "attempted": len(res["units"]) + len(results),
                          "failed": failed, "metrics": out_metrics}))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        if os.path.isdir(runs) and not os.listdir(runs):
            os.rmdir(runs)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    def stop(signum, _frame):
        raise Interrupted(f"signal {signum}")
    signal.signal(signal.SIGTERM, stop)
    run(a)


if __name__ == "__main__":
    main()
