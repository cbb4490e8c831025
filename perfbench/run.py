#!/usr/bin/env python3
"""graft benchmark: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

Builds graft and the harness from source on first use (sbt, offline),
generates the synthetic catalog (`gen_data.py`), then runs the workload in
one JVM on `GraftSession.local(_, nproc)`. The client submits a step only
after the previous result is fully consumed, and repeats the seed-ordered
step list until `--seconds` have passed (at least one full pass).

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`). Lines before it give the environment stamp,
failure reasons, output-check verdicts and, for traced runs, the tracing
overhead against the last untraced run of the same workload. The full run
record and span tree are kept under `perfbench/.work/out/`.

    python3 perfbench/run.py --expect   # regenerate expected.json
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
WORKLOADS = ("analytics", "fixed_floor", "lake_refresh")
SCALES = ("sf0.1", "sf0.001")
HEAP = "4g"
# Spark on JDK 17 outside spark-submit needs these opens (the list
# org.apache.spark.launcher.JavaModuleOptions uses).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)
import metrics  # noqa: E402


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def digest(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base)
                           for f in fs if f.endswith((".scala", ".sbt", ".properties", ".py")))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


CHILDREN = []


def stop_children(signum=None, frame=None):
    """Kills every child process group still running, then waits for it."""
    for proc in CHILDREN:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if signum is not None:
        sys.exit(128 + signum)


def run_child(cmd, cwd, timeout, stdout=sys.stderr, env=None):
    """Runs a child to completion, killing it (and its children) on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                            env=env, start_new_session=True)
    CHILDREN.append(proc)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop_children()
        raise SystemExit(f"perfbench: {os.path.basename(cmd[0])} ran over {timeout:.0f}s")


def build():
    """Compiles graft + harness once per source digest; returns the classpath."""
    stamp = digest([SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    out = os.path.join(WORK, "build")
    cp_file = os.path.join(out, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cp = f.read().strip()
        if HERE in cp:  # not a checkout moved since its build
            return cp, stamp
    if not os.environ.get("SPARK_HOME"):
        raise SystemExit("perfbench: SPARK_HOME is not set; the build takes Spark's jars from it")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    export = os.path.join(out, "export.txt")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    log(f"building graft + harness ({stamp})")
    with open(export, "w") as fh:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], HERE, BUILD_TIMEOUT_S,
                       stdout=fh, env=env)
    with open(export) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("".join(open(export).readlines()[-40:]))
        raise SystemExit(f"perfbench: build failed (exit {rc})")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1], stamp


def ensure_data():
    """Generates each scale of the catalog once per generator version."""
    stamp = digest([os.path.join(HERE, "gen_data.py")])
    root = os.path.join(WORK, "data", stamp)
    for sf in SCALES:
        d = os.path.join(root, sf)
        if not os.path.exists(os.path.join(d, "_DONE")):
            shutil.rmtree(d, ignore_errors=True)
            run_child([sys.executable, os.path.join(HERE, "gen_data.py"),
                       "--sf", sf[2:], "--out", d], HERE, 120)
            open(os.path.join(d, "_DONE"), "w").close()
    return root


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return ""


def run_jvm(cp, data, args, run_dir, out, extra):
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xmn1g", "-XX:+UseParallelGC",
           *[x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dspark.local.dir={run_dir}/local",
           f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
           f"-Dderby.system.home={run_dir}",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--work", run_dir, "--out", out, *extra]
    rc = run_child(cmd, run_dir, RUN_TIMEOUT_S)
    if rc != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: harness exited with {rc}")
    with open(out) as f:
        return json.load(f)


def expect(cp, data):
    """Regenerates expected.json: one pass of every workload, fingerprints of
    each query step, plus a parquet dump per step and oracle_sql.json for
    the DuckDB cross-check (`tools/check_oracle.py <data>/<sf> <dump>`)."""
    expected = {}
    for w in WORKLOADS:
        dump = os.path.join(WORK, "expect", w)
        shutil.rmtree(dump, ignore_errors=True)
        os.makedirs(dump)
        a = argparse.Namespace(workload=w, seed=1, seconds=0, trace=0)
        rec = run_jvm(cp, data, a, os.path.join(WORK, "run"),
                      os.path.join(dump, "record.json"), ["--dump", dump])
        for att in rec["attempts"]:
            if not att["ok"]:
                log(f"{w}: {att['step']} failed: {att['error']}")
        sf = {s["name"]: s["sf"] for s in rec["steps"]}
        fps = {c["step"]: c for c in rec["checks"] if "xor_fp" in c}
        for att in rec["attempts"]:
            if att["ok"] and "n_rows" in att:
                fp = fps[att["step"]]
                if fp["n_rows"] != att["n_rows"]:
                    log(f"{w}: {att['step']} row counts disagree: {fp} vs {att}")
                expected[f"{sf[att['step']]}/{att['step']}"] = {
                    "n_rows": att["n_rows"], "row_hash": att["row_hash"],
                    "xor_fp": fp["xor_fp"]}
        log(f"{w}: dump in {dump}")
    path = os.path.join(HERE, "expected.json")
    old = json.load(open(path)) if os.path.exists(path) else {}
    for k, v in old.items():
        if "rows_only" in v and k in expected:
            expected[k]["rows_only"] = v["rows_only"]
    with open(path, "w") as f:
        json.dump(dict(sorted(expected.items())), f, indent=1)
        f.write("\n")
    log(f"wrote {len(expected)} fingerprints to {path}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expect", action="store_true")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)
    if not os.path.isdir(os.path.join(SRC, "graft")):
        raise SystemExit(f"perfbench: graft sources not found under {SRC}")
    if not (args.expect or args.workload):
        ap.error("--workload is required")
    wanted = manifest_metrics("per_layer" if args.trace else "end_to_end")
    cp, src_stamp = build()
    data = ensure_data()
    if args.expect:
        return expect(cp, data)

    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    run_dir = os.path.join(WORK, "run")
    rec = run_jvm(cp, data, args, run_dir, os.path.join(run_dir, "record.json"),
                  ["--commit", f"{commit() or 'no-git'} src-{src_stamp}"])
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)

    e2e, extra = metrics.end_to_end(rec)
    wrong = metrics.check_outputs(rec["attempts"], rec["checks"], rec["steps"], expected)
    failures = [a for a in rec["attempts"] if not a["ok"]]
    attempted = len(rec["attempts"])
    refresh = [t for n, t, _ in metrics.step_times(rec) if n.startswith("refresh_")]
    print("env " + json.dumps(dict(rec["env"], passes=len(rec["passes"])), sort_keys=True))
    for a in failures:
        print(f"failed {a['step']} pass {a['pass']}: {a['error']}")
    for name, why in sorted(wrong.items()):
        print(f"wrong {name}: {why}")
    summary = dict(e2e, **extra, fail_frac=len(failures) / attempted,
                   wrong_results=len(wrong), stored_mb=rec["stored_b"] / metrics.MB)
    if refresh:
        summary["refresh_day_s"] = statistics.median(refresh)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        layer, ops = metrics.per_layer(rec)
        rec["span_tree"] = metrics.span_tree(rec)
        print("ops " + json.dumps(ops))
        base = os.path.join(out_dir, f"{args.workload}-last-untraced.json")
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)
            print("overhead " + json.dumps(
                {k: summary[k] - untraced[k] for k in summary if k in untraced
                 and k not in ("tail_percentile", "tail_n", "fail_frac", "wrong_results")}))
        measured = layer
    else:
        with open(os.path.join(out_dir, f"{args.workload}-last-untraced.json"), "w") as f:
            json.dump(summary, f)
        measured = e2e
    missing = [name for name, _ in wanted if name not in measured]
    if missing:
        raise SystemExit(f"perfbench: metrics in BENCHMARK.json not measured: {missing}")
    result_metrics = {name: {"value": float(measured[name]), "unit": u} for name, u in wanted}
    print("summary " + json.dumps({k: round(v, 4) for k, v in summary.items()}))
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(rec, f)
    print(json.dumps({"correct": not wrong, "attempted": attempted,
                      "failed": len(failures), "metrics": result_metrics},
                     allow_nan=False))


def manifest_metrics(kind):
    """(name, unit) of each metric BENCHMARK.json lists under `kind`: the
    result line reports exactly these, in the manifest's units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


if __name__ == "__main__":
    main()
