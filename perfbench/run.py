#!/usr/bin/env python3
"""graft's benchmark: runs one workload for one seed and prints one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles the
harness (perfbench/build.sbt, a source dependency on the library) and
generates the data tiers under .bench_build/perfbench; later runs reuse them.
See perfbench/README.md for the workloads and metrics.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("migrate_validate", "curate_llm")
RUN_LIMIT_S = 170

# Data tiers come from gen_tier.py; these sf0.1 row counts verify them.
BASE_ROWS = {"region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
             "part": 20000, "orders": 150000, "lineitem": 600000,
             "events": 100000, "documents": 5000, "embeddings": 2000}
TIER = "sf0.01"

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xmn1g", "-XX:-UseAdaptiveSizePolicy",
    # C1 only: under C2 the warm rounds kept getting faster for minutes and
    # settled at a level that differed by up to a third from JVM to JVM
    "-XX:TieredStopAtLevel=1",
    f"-Djava.io.tmpdir={BUILD}/tmp",
    f"-Dspark.local.dir={BUILD}/tmp",
    f"-Dspark.sql.warehouse.dir={BUILD}/warehouse",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def sources_fingerprint():
    h = hashlib.sha1()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project")):
        for d, _, files in sorted(os.walk(base)):
            if "target" in d.split(os.sep):
                continue
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile library and harness with sbt once; cache the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = sources_fingerprint()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached_stamp, cp = f.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log("compiling library and harness with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        die("sbt build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def java(cp, main, args, timeout):
    cmd = ["java"] + JVM_OPTS + ["-cp", cp, main] + list(args)
    # SPARK_LOCAL_DIRS would override spark.local.dir: keep scratch in BUILD
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(BUILD, "tmp"))
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        die(f"{main} exceeded {timeout:.0f} s")
    for line in err.splitlines():
        if line.startswith("[perfbench]") or "Exception" in line or "Error" in line:
            sys.stderr.write(line + "\n")
    if p.returncode != 0:
        sys.stderr.write(err[-3000:])
        die(f"{main} exited with {p.returncode}")
    return out


def parquet_rows(path):
    import pyarrow.parquet as pq
    files = ([os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
             if os.path.isdir(path) else [path])
    return sum(pq.read_metadata(f).num_rows for f in files)


def verify_tier(tier, expected):
    for t, n in expected.items():
        got = parquet_rows(os.path.join(tier, f"{t}.parquet"))
        if got != n:
            die(f"tier {tier}: {t} has {got} rows, expected {n}")


def ensure_tier(name):
    """Generate a data tier once per checkout, verified by row counts."""
    tier = os.path.join(BUILD, "tiers", name)
    done = os.path.join(tier, "_verified")
    if os.path.exists(done):
        return tier
    t0 = time.time()
    scale = float(name[2:])
    subprocess.run([sys.executable, os.path.join(HERE, "gen_tier.py"), tier, str(scale)],
                   check=True, stdout=subprocess.DEVNULL, timeout=300)
    verify_tier(tier, {t: n if t in ("region", "nation") else round(n * scale / 0.1)
                       for t, n in BASE_ROWS.items()})
    log(f"generated tier {name} in {time.time() - t0:.1f} s")
    open(done, "w").close()
    return tier


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0,
                    help="self-check: damage one output; the run must report correct=false")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("the graft library sources are not beside perfbench/; nothing to measure")
    for d in ("tmp", "warehouse", "results"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    cp = build()
    tier = ensure_tier(TIER)
    out = os.path.join(BUILD, "results", f"{a.workload}-{a.seed}-{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    t0 = time.time()
    subprocess.run([sys.executable, os.path.join(HERE, "prep.py"), a.workload, str(a.seed),
                    tier, os.path.join(work, "inputs")], check=True, timeout=120)
    prep_s = time.time() - t0
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--tier", tier, "--work", work, "--out", out,
            "--cpus", str(os.cpu_count()), "--corrupt", str(a.corrupt),
            "--oracle", os.path.join(HERE, "oracle_counts.tsv")]
    java(cp, "graft.perfbench.Main", args, RUN_LIMIT_S)
    with open(out) as f:
        res = json.load(f)

    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    log(f"{a.workload} seed={a.seed} rounds={res['rounds']} "
        f"window={res['window_s']:.1f}s input_prep={prep_s + res['prep_s']:.2f}s "
        f"setups={['%.3f' % x for x in res['setup_samples']]}")
    log(f"round times {['%.3f' % x for x in res['round_samples']]}")
    for k, m in res["end_to_end"].items():
        n = f"  (median of {res['ops']} operations)" if k == "op_rel" else ""
        print(f"{k:>16} {m['value']:.4f} {m['unit']}{n}")
    for k, m in res["wall"].items():
        print(f"{k:>16} {m['value']:.4f} {m['unit']}  (wall clock, not gated)")
    print(f"{'heap_peak_mb':>16} {res['heap_peak_mb']:.4f} MB  (not gated: set by GC timing)")
    print(f"{'op_fail_ratio':>16} {res['failed'] / max(1, res['attempted']):.4f} ratio "
          f"({res['failed']}/{res['attempted']} calls failed)")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
