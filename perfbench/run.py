#!/usr/bin/env python3
"""Repo benchmark: seeded crawl-filter, dup-heavy resumable-commit and sf0.1
analytics workloads, with a separate traced run for per-layer metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Workloads: crawl_mixed and analytics_sf01 (see
perfbench/README.md). The last line of standard output is one JSON object
with the keys correct, attempted, failed and metrics: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1. The line before it is the run's provenance. Everything the run
writes stays under .bench_build/ in the checkout.

The first run in a checkout compiles the engine's sources together with the
benchmark's own code (perfbench/build.sbt); later runs reuse that build while
the sources are unchanged.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SOURCES = os.path.join(ROOT, "src", "main", "scala")
TABLES = os.path.join(HERE, "data")
WORKLOADS = ("crawl_mixed", "analytics_sf01")
RUN_LIMIT_S = 170  # every run ends within 180 s; the first may also build

# Spark 4 on JDK 17 outside spark-submit (the engine's build.sbt uses the
# same list)
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cores():
    return len(os.sched_getaffinity(0))


def ram_gb():
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return round(kb / 1024 / 1024, 1)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation found (set SPARK_HOME)")
    return home


def source_files():
    files = []
    for top in (SOURCES, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(home):
    """Compile the engine and the benchmark unless the last build is of the
    same sources; returns the JVM classpath."""
    classes = os.path.join(BUILD, "target", "scala-2.13", "classes")
    stamp = os.path.join(BUILD, "build.stamp")
    want = source_hash()
    if os.path.exists(stamp) and os.path.isdir(classes):
        with open(stamp) as f:
            if f.read() == want:
                return want, f"{classes}:{home}/jars/*"
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    cmd = ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={BUILD}/sbt-global", "compile"]
    with open(log, "w") as out:
        rc = subprocess.run(cmd, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        die(f"build failed (log: {log})", 1)
    with open(stamp, "w") as f:
        f.write(want)
    return want, f"{classes}:{home}/jars/*"


def jvm(cp, args, work, heap, deadline):
    """One benchmark JVM; returns its result object. The heap and its young
    generation are fixed in size, so that peak_rss_mb does not follow the
    collector's adaptive sizing."""
    out = os.path.join(work, f"result-{args['role']}.json")
    argv = [a for k, v in args.items() for a in (f"--{k}", str(v))]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *ADD_OPENS, f"-Xms{heap}", f"-Xmx{heap}", "-Xmn1g", "-XX:+UseG1GC",
           "-Dfile.encoding=UTF-8",
           "-Dsun.stdout.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
           "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}/tmp",
           "-cp", cp, "perfbench.Main", *argv, "--out", out]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, f"jvm-{args['role']}.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"{args['workload']} ({args['role']}) exceeded the run limit", 1)
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"{args['workload']} ({args['role']}) JVM exited with {rc}", 1)
    with open(out) as f:
        return json.load(f)


def query_scales(info):
    """{sf dir: query names run over it} of an analytics run."""
    heavy = set(info["heavy_scale"])
    out = {}
    for q in sorted(info["query_s"]):
        out.setdefault(info["sf_dir"]["heavy" if q in heavy else "light"], []).append(q)
    return out


def run_workload(cp, workload, seed, seconds, trace, smoke, deadline, keep=False):
    n = cores()
    work = os.path.join(BUILD, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    base = dict(workload=workload, seed=seed, seconds=seconds, trace=trace, cores=n, work=work,
                tables=TABLES, smoke=int(smoke), role="main")
    heap = "4g" if workload == "analytics_sf01" else "3g"
    try:
        t0 = time.time()
        res = jvm(cp, base, work, heap, deadline)
        checks = list(res["checks"])
        metrics = dict(res["metrics"])
        info = dict(res["info"])
        attempted, failed = res["attempted"], res["failed"]
        info["jvm_wall_s"] = time.time() - t0
        if workload == "crawl_mixed" and trace:
            lo = max(1, n // 4)
            sc = jvm(cp, dict(base, role="scaling", cores=lo, trace=0), work, heap, deadline)
            # docs/s at n ÷ (n/lo × docs/s at lo), on the same input
            eff = sc["metrics"]["pass_s"]["value"] / (n / lo * info["untraced_pass_s_median"])
            metrics["pipeline.scaling_efficiency"] = {"value": eff, "unit": "ratio"}
            info["scaling_cores"] = lo
            info["scaling_pass_s"] = sc["info"].get("scaling_pass_s")
            metrics["peak_rss_mb"]["value"] = max(metrics["peak_rss_mb"]["value"],
                                                  sc["metrics"]["peak_rss_mb"]["value"])
        if workload == "analytics_sf01":
            import oracle
            verdict = {}
            for part, names in query_scales(info).items():
                verdict.update(oracle.check(os.path.join(TABLES, part), info["dump_dir"], names))
            bad = {q: d for q, (ok, d) in verdict.items() if not ok}
            good = len(verdict) - len(bad)
            checks.append({"name": "analytics_sf01: every query matches its DuckDB oracle "
                                   "(q21: returns rows)",
                           "ok": good == info["queries"],
                           "detail": f"{good} of {info['queries']} pass; failing: {bad}"})
            failed += len(bad)
            metrics["sparkentry.queries_correct"] = {"value": float(good), "unit": "count"}
            info["oracle"] = f"{good} pass, {info['queries'] - good} fail"
            info["oracle_wall_s"] = time.time() - t0 - info["jvm_wall_s"]
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
            info["spans"] = os.path.relpath(
                shutil.copy(spans, os.path.join(BUILD, "results", f"spans-{workload}-{seed}.jsonl")), ROOT)
    finally:
        if not keep:
            shutil.rmtree(work, ignore_errors=True)
    return metrics, checks, attempted, failed, info


def provenance(workload, seed, info, tree):
    commit = "unknown"  # a checkout outside git has no commit
    try:
        git = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10).stdout.split()
        if len(git) == 2 and os.path.realpath(git[0]) == os.path.realpath(ROOT):
            commit = git[1]
    except OSError:
        pass
    return {"workload": workload, "seed": seed,
            # the analytics tables are fixed data: the seed selects nothing there
            "seed_applies": workload != "analytics_sf01", "nproc": cores(), "ram_gb": ram_gb(),
            "jvm": info.get("jvm"), "spark": info.get("spark_version"), "git_commit": commit,
            "source_sha256": tree, "date": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "host": platform.machine(),
            **{k: info[k] for k in ("pages", "window", "sf_dir", "oracle", "spans",
                                    "scaling_cores") if k in info}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, all three workloads traced and untraced, self-checks")
    ap.add_argument("--refresh-oracle", action="store_true",
                    help="recompute perfbench/expected_sf0.1.json from live DuckDB oracles")
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(SOURCES) or not os.path.exists(spec_path):
        die(f"no engine sources under {os.path.relpath(SOURCES, ROOT)}: run from a full checkout")
    if not (a.smoke or a.refresh_oracle or a.workload):
        die("--workload is required")
    with open(spec_path) as f:
        spec = json.load(f)
    tree, cp = build(spark_home())
    # the first run of a checkout may build; the run limit counts from here
    deadline = time.time() + RUN_LIMIT_S
    if a.smoke:
        return smoke(cp, spec, tree)
    if a.refresh_oracle:
        return refresh_oracle(cp)
    metrics, checks, attempted, failed, info = run_workload(
        cp, a.workload, a.seed, a.seconds, a.trace, False, deadline)
    report(spec, a.workload, a.seed, a.trace, metrics, checks, attempted, failed, info, tree)


def select(spec, trace, metrics):
    """The metrics this run reports: every end-to-end metric (trace 0) or
    every per-layer metric (trace 1). A per-layer metric that the workload
    does not exercise reads 0."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    out, missing = {}, []
    for m in wanted:
        got = metrics.get(m["name"])
        if got is None:
            missing.append(m["name"])
            got = {"value": 0.0}
        out[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    return out, missing


def report(spec, workload, seed, trace, metrics, checks, attempted, failed, info, tree):
    out, missing = select(spec, trace, metrics)
    if not trace and missing:
        die(f"end-to-end metrics not measured: {missing}", 1)
    bad = [c for c in checks if not c["ok"]]
    for c in checks:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    prov = provenance(workload, seed, info, tree)
    prov["not_exercised"] = missing
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{workload}-{seed}-trace{trace}.json"), "w") as f:
        json.dump({"provenance": prov, "metrics": out, "all_metrics": metrics, "checks": checks,
                   "info": info}, f, indent=1)
    print(json.dumps({"provenance": prov}))
    print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return not bad and failed == 0


def refresh_oracle(cp):
    """Dump the analytics results, recompute the stored oracle answers in
    DuckDB (minutes: the q17 and q19 oracles are brute force), and confirm
    that the stored-answer check and tools/compare_oracle.py agree."""
    import oracle
    _, _, _, _, info = run_workload(cp, "analytics_sf01", 1, 1, 0, False, time.time() + 600, keep=True)
    sf, dump = os.path.join(TABLES, info["sf_dir"]["heavy"]), info["dump_dir"]
    names = query_scales(info)[info["sf_dir"]["heavy"]]
    try:
        oracle.refresh(sf, dump, names)
        ours = {q: ok for q, (ok, _) in oracle.check(sf, dump, names).items()}
        # compare_oracle.py checks every result dir in the dump: keep only these
        for q in set(info["query_s"]) - set(names):
            shutil.rmtree(os.path.join(dump, q))
        p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare_oracle.py"), sf,
                            dump], capture_output=True, text=True, cwd=ROOT)
        theirs = {}
        for line in p.stdout.splitlines():
            name, _, rest = line.partition(": ")
            if name in ours:
                theirs[name] = rest.startswith("PASS")
        print(p.stdout)
        if ours != theirs:
            die(f"stored-answer check disagrees with compare_oracle: "
                f"{sorted(q for q in ours if ours[q] != theirs.get(q))}", 1)
        print(f"wrote {os.path.relpath(oracle.expected_path(sf), ROOT)}; "
              f"{sum(ours.values())} of {len(ours)} pass, verdicts agree with compare_oracle")
    finally:
        shutil.rmtree(os.path.dirname(dump), ignore_errors=True)


def smoke(cp, spec, tree):
    """Tiny inputs through all three workloads, untraced and traced: every
    BENCHMARK.json metric is emitted with its unit, every per-layer metric is
    exercised by some workload, and the correctness checks ran and passed."""
    problems, exercised = [], set()
    for w in WORKLOADS:
        for trace in (0, 1):
            metrics, checks, attempted, failed, info = run_workload(
                cp, w, 7, 2, trace, True, time.time() + RUN_LIMIT_S)
            out, missing = select(spec, trace, metrics)
            exercised |= set(out) - set(missing)
            if not trace and missing:
                problems.append(f"{w}: end-to-end metrics missing: {missing}")
            if not checks:
                problems.append(f"{w} trace={trace}: no correctness check ran")
            problems += [f"{w} trace={trace}: check failed: {c['name']}: {c['detail']}"
                         for c in checks if not c["ok"]]
            if failed:
                problems.append(f"{w} trace={trace}: {failed} of {attempted} operations failed")
            print(f"smoke {w} trace={trace}: {len(checks)} checks, {attempted} operations, "
                  f"{len(out)} metrics")
    never = [m["name"] for m in spec["per_layer"] if m["name"] not in exercised]
    if never:
        problems.append(f"per-layer metrics no workload emits: {never}")
    for p in problems:
        print(f"smoke FAIL {p}")
    print("smoke " + ("FAIL" if problems else "ok"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
