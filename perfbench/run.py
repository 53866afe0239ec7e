#!/usr/bin/env python3
"""graft benchmark: runs one workload on seeded inputs and prints its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload tuple_mr --seed 1 --seconds 10 --trace 0

The program under test is built from the checkout's sources (sbt, offline)
on the first run, and its inputs are generated from --seed with
tools/gen_testdata.py. One JVM then runs the workload (see README.md) and
the DuckDB oracle checks the results it wrote. The last line of standard
output is one JSON object: correct, attempted, failed and the metrics named
in BENCHMARK.json -- end-to-end ones with --trace 0, per-layer ones with
--trace 1. Everything the run writes stays under .perfbench/ in the
checkout. The exit code is non-zero on any failed call or output mismatch.
"""
import argparse
import contextlib
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # importing tools/ must not write into the checkout

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench")
CORES = 2            # local[k]: the other cores take the JIT compiler, GC and co-tenants
HEAP = "2g"
TINY_SF = 0.002      # the set-up pass's input
DEADLINE_S = 170     # a run must end within 180 s

# Spark on JDK 17 outside spark-submit (same list as the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Builds graft and the benchmark once per source state; returns the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "gen_testdata.py"), os.path.join("tools", "parity.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS") or "-Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts + " -Dsbt.server.autostart=false"
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspathAsJars"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    log(f"built in {time.time() - t0:.0f} s")
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def dataset(seed, sf):
    """The ten generated tables for (seed, sf), cached under .perfbench/data."""
    d = os.path.join(WORK, "data", f"seed{seed}_sf{sf}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import gen_testdata
    gen_testdata.SEED = seed % (2 ** 32)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    with contextlib.redirect_stdout(sys.stderr):
        gen_testdata.gen(sf, tmp)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    open(os.path.join(d, "_DONE"), "w").close()
    return d


def oracle_failures(data_dir, oracle_dir):
    """Compares each result the JVM wrote with its DuckDB oracle query, using
    tools/parity.py's canonical form; returns the mismatches."""
    with open(os.path.join(oracle_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    if not oracle:
        return []
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    from parity import canon, decimal_cols
    con = duckdb.connect()
    con.sql("SET threads=2")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'")
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            got_rel = con.sql(f"SELECT * FROM '{os.path.join(oracle_dir, name)}/*.parquet'")
            exp_rel = con.sql(sql)
            if decimal_cols(got_rel) or decimal_cols(exp_rel):
                bad.append(f"{name}: decimal output columns")
            elif canon(got_rel) != canon(exp_rel):
                bad.append(f"{name}: rows differ from the oracle")
        except Exception as e:  # a broken result or query is a mismatch
            bad.append(f"{name}: {str(e).splitlines()[0][:200]}")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload}; choose from {names}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    classpath = build()
    with open(os.path.join(HERE, "workloads.json")) as f:
        sf = json.load(f)[a.workload]["sf"]
    data = dataset(a.seed, sf)
    tiny = dataset(a.seed, TINY_SF)

    out = os.path.join(WORK, "runs", f"{a.workload}-trace{a.trace}")
    jvm_work = os.path.join(WORK, "jvm")
    for d in (out, jvm_work):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.makedirs(os.path.join(jvm_work, "tmp"))
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(jvm_work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--data", data, "--warm", tiny,
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out,
              "--work", jvm_work, "--cores", str(CORES), "--seed", str(a.seed)])
    try:
        p = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=max(10, DEADLINE_S - (time.time() - t_start)))
    except subprocess.TimeoutExpired:
        fail("the workload did not finish in time", 3)
    finally:
        shutil.rmtree(jvm_work, ignore_errors=True)
    result_path = os.path.join(out, "result.json")
    if p.returncode != 0 or not os.path.exists(result_path):
        fail(f"the workload JVM failed (exit {p.returncode})", 4)
    with open(result_path) as f:
        res = json.load(f)

    bad = oracle_failures(data, os.path.join(out, "oracle"))
    errors = res["errors"] + bad
    failed = res["failed"] + len(bad)
    measured = res["metrics"]
    unknown = sorted(set(measured) - {m["name"] for m in wanted})
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {unknown}")
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing and not a.trace:
        fail(f"end-to-end metrics not measured: {missing}")
    # a layer this workload never calls reads 0
    metrics = {m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}

    print(f"workload {a.workload}  seed {a.seed}  sf {sf}  passes {res['passes']}  "
          f"timed calls {res['calls_timed']}  checks {res['check_calls']}")
    print("session " + json.dumps(res["session"], sort_keys=True))
    print(f"set-up runs {res['setup_runs_s']} s  canary {res['canary_s']} s")
    if a.trace:
        print(f"spans {os.path.relpath(os.path.join(out, 'spans.json'), ROOT)}")
    for e in errors:
        print(f"FAILED {e}")
    for n, m in metrics.items():
        print(f"  {n:42s} {m['value']:14.6g} {m['unit']}")
    correct = failed == 0 and not errors
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
