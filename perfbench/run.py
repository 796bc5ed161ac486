#!/usr/bin/env python3
"""Seeded benchmark of the graft lakehouse engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md for why each exists and its sizes):
``daily_pipeline``, ``analyst_queries``, ``train_prep``.

The first run in a checkout builds the program and the benchmark from
source with sbt. Inputs are generated from the seed and cached under
``.bench_build/perfbench`` per (workload, seed). The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
ones with ``--trace 1``.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # the benchmark writes only under .bench_build

# Input sizes. Row counts of the catalog tiers are multiples of sf0.1
# (customer 15k, orders 150k, lineitem ~600k, documents 5k, embeddings 2k).
ANALYST_SCALE = 1.0
TRAIN = {"documents": 1.5, "embeddings": 1.25, "lineitem": 1.0}
DAILY = {"n_apps": 400, "n_backfill": 3000, "n_daily": 600, "days": 1, "batch": 400}

# a run must end within 180 s, or 900 s when it builds first
RUN_SECONDS, BUILD_RUN_SECONDS = 170, 880
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def source_stamp(root):
    """Hash of everything the build compiles."""
    h = hashlib.sha256()
    paths = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
             "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            paths += [os.path.relpath(os.path.join(d, f), root) for f in files]
    for p in sorted(paths):
        full = os.path.join(root, p)
        if os.path.isfile(full):
            h.update(p.encode())
            with open(full, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root, work):
    """Compile with sbt once per source state. Returns the runtime
    classpath and whether this call built it."""
    stamp = source_stamp(root)
    cp_file = os.path.join(work, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip(), False
    log("building the program and the benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspathAsJars"],
        cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = out.stdout.splitlines()
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if out.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    cp = cps[-1].strip()
    d = os.path.join(work, "oracle-dump")
    os.makedirs(d, exist_ok=True)
    java(cp, ["graft.perfbench.OracleSql", os.path.join(work, "oracle_sql.json")],
         cwd=d, timeout=120)
    shutil.rmtree(d, ignore_errors=True)
    cds_archive(cp, work)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp, True


def cds_archive(cp, work):
    """Record the classes a warm-up of every workload loads, on small
    inputs, in a class-data-sharing archive that each run maps instead of
    loading those classes from the jars again."""
    import gen
    archive = os.path.join(work, "classes.jsa")
    d = os.path.join(work, "cds")
    shutil.rmtree(d, ignore_errors=True)
    if os.path.exists(archive):
        os.remove(archive)
    gen.gen_landing(os.path.join(d, "landing"), 0, n_apps=40, n_backfill=200,
                    n_daily=50, days=1, batch=40)
    gen.gen_tables(os.path.join(d, "tables"), 0, 0.05)
    triples = [f"{w}={os.path.join(d, t)}={os.path.join(d, 'none')}" for w, t in (
        ("daily_pipeline", "landing"), ("analyst_queries", "tables"),
        ("train_prep", "tables"))]
    os.makedirs(d, exist_ok=True)
    proc = java(cp, ["graft.perfbench.Main", "--cds-training", *triples], cwd=d,
                timeout=300, extra=[f"-XX:ArchiveClassesAtExit={archive}"])
    if proc.returncode != 0 or not os.path.exists(archive):
        log("no class-data-sharing archive; runs load classes from the jars")
    shutil.rmtree(d, ignore_errors=True)


def java(cp, args, cwd, timeout, extra=()):
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap keeps the resident set from following the
    # collector's sizing decisions from run to run
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", *JAVA_OPENS, "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch",
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(cwd, 'warehouse')}",
            f"-Dspark.local.dir={os.path.join(cwd, 'local')}",
            f"-Dderby.system.home={cwd}", *extra, "-cp", cp] + args)
    with open(os.path.join(cwd, "jvm.log"), "w") as err:
        proc = subprocess.run(cmd, cwd=cwd, stdin=subprocess.DEVNULL,
                              stdout=subprocess.PIPE, stderr=err, text=True,
                              timeout=timeout)
    return proc


def inputs(workload, seed, work, oracle_sql):
    """Generate (or reuse) the seeded inputs and, for catalog workloads,
    the DuckDB answers. Returns (tables dir, answers dir)."""
    tier = {"daily_pipeline": "landing", "analyst_queries": "sf0.1",
            "train_prep": "train"}[workload]
    # the cache key covers everything the inputs depend on
    sizes = {"landing": DAILY, "sf0.1": ANALYST_SCALE, "train": TRAIN}[tier]
    key = hashlib.sha256(json.dumps(sizes, sort_keys=True).encode())
    for f in ("gen.py", "oracle.py", "lsh.py"):
        with open(os.path.join(HERE, f), "rb") as fh:
            key.update(fh.read())
    if tier != "landing":
        with open(oracle_sql, "rb") as fh:
            key.update(fh.read())
    d = os.path.join(work, "data", f"{tier}-seed{seed}-{key.hexdigest()[:12]}")
    if not os.path.exists(os.path.join(d, "_COMPLETE")):
        import gen
        t0 = time.time()
        shutil.rmtree(d, ignore_errors=True)
        tables = os.path.join(d, "tables")
        if tier == "landing":
            gen.gen_landing(tables, seed, **DAILY)
        elif tier == "sf0.1":
            gen.gen_tables(tables, seed, ANALYST_SCALE)
        else:
            gen.gen_tables(tables, seed, TRAIN["documents"],
                           tables=["documents"])
            gen.gen_tables(tables, seed, TRAIN["lineitem"],
                           tables=["lineitem"])
            gen.gen_tables(tables, seed, TRAIN["embeddings"],
                           tables=["embeddings"])
        if tier != "landing":
            import oracle
            with open(oracle_sql) as f:
                sql = json.load(f)[workload]
            for msg in oracle.answer(tables, sql, list(sql),
                                     os.path.join(d, "expected")):
                log(f"oracle failed: {msg}")
        open(os.path.join(d, "_COMPLETE"), "w").close()
        log(f"generated {tier} inputs for seed {seed} in {time.time() - t0:.1f}s")
    return os.path.join(d, "tables"), os.path.join(d, "expected")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["daily_pipeline", "analyst_queries", "train_prep"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    started = time.time()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala"))):
        raise SystemExit("run from the root of a checkout of the program "
                         "(build.sbt and src/main/scala/graft are missing)")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)

    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    with open(os.path.join(work, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp, built = build(root, work)
        deadline = started + (BUILD_RUN_SECONDS if built else RUN_SECONDS)
        tables, expected = inputs(a.workload, a.seed, work,
                                  os.path.join(work, "oracle_sql.json"))

        run_dir = os.path.join(work, f"run-{os.getpid()}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        result_file = os.path.join(run_dir, "result.json")
        try:
            archive = os.path.join(work, "classes.jsa")
            share = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
            proc = java(cp, ["graft.perfbench.Main", a.workload, str(a.seed),
                             str(a.seconds), str(a.trace), tables, expected,
                             result_file], cwd=run_dir,
                        timeout=max(10.0, deadline - time.time()),
                        extra=share)
            for line in proc.stdout.splitlines():
                if line.startswith("[perfbench]"):
                    print(line, flush=True)
            if proc.returncode != 0 or not os.path.exists(result_file):
                with open(os.path.join(run_dir, "jvm.log")) as f:
                    sys.stderr.write("".join(f.readlines()[-60:]))
                raise SystemExit(f"benchmark JVM exited with {proc.returncode}")
            with open(result_file) as f:
                result = json.load(f)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    want = bench["per_layer"] if a.trace else bench["end_to_end"]
    metrics = result["metrics"]
    for name, v in metrics.items():
        log(f"{a.workload:16s} {name:30s} {v['value']:>16.6g} {v['unit']}")
    for m in want:
        # op timings of other workloads' mixes do not apply: reported as 0
        if a.trace and m["name"].startswith("op.") and m["name"] not in metrics:
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
    missing = [m["name"] for m in want if m["name"] not in metrics]
    if missing:
        raise SystemExit(f"metrics not reported: {missing}")
    result["metrics"] = {m["name"]: metrics[m["name"]] for m in want}
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
