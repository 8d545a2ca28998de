#!/usr/bin/env python3
"""The repository benchmark: builds the engine and its harness from source,
generates the workload's inputs from the seed, runs the harness JVM, checks
every output, and prints one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md): catalog, stream_supplier_stats. With --trace 0 the result carries the end-to-end
metrics of BENCHMARK.json; with --trace 1 its per-layer metrics. The last
stdout line is {"correct", "attempted", "failed", "metrics"}; the line
before it is the run's host provenance. Everything the run writes stays
under perfbench/work/. Exit code 0 when every output checked correct.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, "work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
SPARK_ENTRY = os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")
TIME_LIMIT_S = 175
CATALOG_SF = 0.001
WORKLOADS = ["catalog", "stream_supplier_stats"]

# Per-layer metric families each workload exercises; the per-layer metrics
# of BENCHMARK.json outside a workload's families are reported as 0 for it.
COMMON = ("spark.", "host.", "jvm.", "trace.", "result.")
STREAM = ("batch.", "state.", "watermark.", "late.", "sink.", "source.")
APPLIES = {
    "catalog": COMMON + ("tables.", "layers.", "layer.", "queries.", "family.", "query."),
    "stream_supplier_stats": COMMON + STREAM + ("scaling.", "cdc.", "linucb."),
}


def log(msg):
    print(f"[perfbench] {time.monotonic() - START:7.2f} s  {msg}", file=sys.stderr, flush=True)


def fail_early(msg):
    log(msg)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt when the sources changed; returns
    (classpath, jvm options) of the harness and the seconds spent building."""
    stamp = os.path.join(WORK, "build", "stamp")
    info = os.path.join(HARNESS, "target", "run-info.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(info) and open(stamp).read() == digest:
        lines = open(info).read().splitlines()
        return lines[0], lines[1:], 0.0
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    t0 = time.monotonic()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "runInfo"], cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0 or not os.path.exists(info):
        sys.stderr.write(r.stdout[-5000:])
        fail_early("build failed")
    took = time.monotonic() - t0
    log(f"build took {took:.0f} s")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    lines = open(info).read().splitlines()
    return lines[0], lines[1:], took


def lake(seed, sf):
    d = os.path.join(WORK, "lakes", f"sf{sf}-seed{seed}")
    if not os.path.exists(os.path.join(d, "done")):
        sys.path.insert(0, HERE)
        import lakegen
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        lakegen.write(tmp, seed, sf)
        open(os.path.join(tmp, "done"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def oracle_check(lake_dir, oracles):
    """Exact comparison of each query output with its oracle SQL in DuckDB
    (columns sorted by name, rows sorted, values equal). Returns failures."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads=2")
    for f in sorted(os.listdir(lake_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{lake_dir}/{f}'")
    failures = []
    for o in oracles:
        name = o["query"]
        try:
            expect = canon(con.sql(o["sql"]).df())
            got = canon(con.sql(f"SELECT * FROM '{o['dir']}/*.parquet'").df())
        except Exception as e:  # noqa: BLE001 - any error is a failed check
            failures.append(f"{name}: {e}"[:500])
            continue
        if list(expect.columns) != list(got.columns):
            failures.append(f"{name}: columns {list(got.columns)} vs oracle {list(expect.columns)}")
        elif len(expect) != len(got):
            failures.append(f"{name}: {len(got)} rows vs oracle {len(expect)}")
        elif not expect.equals(got):
            failures.append(f"{name}: values differ from oracle")
    return failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(ENGINE_SRC) or not os.path.exists(SPARK_ENTRY):
        fail_early(f"engine sources not found under {ENGINE_SRC}")
    if not os.path.exists(spec_path):
        fail_early("BENCHMARK.json not found at the repository root")
    spec = json.load(open(spec_path))
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    cp, jvm_opts, build_s = build()
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    lake_dir = lake(args.seed, CATALOG_SF) if args.workload == "catalog" else ""
    cmd = (["java"] + [o for o in jvm_opts if not o.startswith("-Xmx")] +
           ["-Xmx2g", f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(os.cpu_count() or 1), "--work", run_dir])
    if args.workload == "catalog":
        cmd += ["--lake", lake_dir, "--catalog", os.path.join(HERE, "catalog.txt")]
    # the time limit holds for a run; a build before it has its own
    budget = TIME_LIMIT_S - (time.monotonic() - START - build_s)
    log("harness started")
    with open(os.path.join(run_dir, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL, stdout=logf, stderr=logf)
        try:
            proc.wait(timeout=max(10.0, budget - 10))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail_early(f"harness did not finish within the time limit; see {run_dir}/harness.log")
    result_path = os.path.join(run_dir, "result.json")
    if not os.path.exists(result_path):
        fail_early(f"harness wrote no result (exit {proc.returncode}); see {run_dir}/harness.log")
    res = json.load(open(result_path))
    failures = list(res["failures"])
    failed = res["failed"]
    log("harness finished")
    if "oracle" in res:
        bad = oracle_check(lake_dir, res["oracle"])
        failures += bad
        failed += len(bad)

    log("outputs checked")
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in res["metrics"]:
            metrics[name] = res["metrics"][name]
        elif args.trace and not name.startswith(APPLIES[args.workload]):
            metrics[name] = {"value": 0, "unit": m["unit"]}
        else:
            failures.append(f"metric {name} was not measured")
            failed += 1

    artifacts = os.path.join(WORK, "artifacts")
    os.makedirs(artifacts, exist_ok=True)
    stem = os.path.join(artifacts, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    prov = res.get("provenance", {})
    with open(stem + ".json", "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                   "trace": args.trace, "provenance": prov, "contended": prov.get("contended"),
                   "failures": failures, "metrics": res["metrics"],
                   **{k: v for k, v in res.items()
                      if k not in ("metrics", "failures", "oracle", "provenance")}}, fh, indent=1)
    if os.path.exists(os.path.join(run_dir, "spans.jsonl")):
        shutil.copy(os.path.join(run_dir, "spans.jsonl"), stem + ".spans.jsonl")
    for f in failures:
        log(f"FAILED {f}")
    shutil.copy(os.path.join(run_dir, "harness.log"), stem + ".log")
    if failures:
        log(f"run directory kept for inspection: {run_dir}")
    else:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"provenance": prov}))
    attempted = max(1, int(res["attempted"]))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": int(failed),
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
