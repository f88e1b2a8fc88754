#!/usr/bin/env python3
"""The engine's end-to-end, layer-by-layer benchmark: one run of one
workload.

    python3 perfbench/run.py --workload pipeline-large --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the harness and the
engine from source into `.bench_build/` (sbt, offline); later runs reuse
the build while the sources are unchanged. Each run then

  1. generates the workload's inputs from `--seed` (perfbench/gen.py);
  2. runs perfbench.Harness in one local Spark JVM: timed set-ups, an
     untimed warm-up, then passes for `--seconds`;
  3. checks every output against DuckDB running the engine's oracle SQL;
  4. writes a stamped record to `.bench_build/results/` and prints the
     metrics: end-to-end ones with `--trace 0`, per-layer ones from
     traced passes with `--trace 1`. The last stdout line is one JSON
     object: {"correct", "attempted", "failed", "metrics"}.

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402

DEADLINE_S = 170.0
SETUPS = 3
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest_files(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sources():
    engine = sorted(glob.glob(f"{ROOT}/src/main/scala/**/*.scala", recursive=True))
    if not engine:
        raise SystemExit("engine sources not found under src/main/scala")
    bench = sorted(glob.glob(f"{HERE}/src/**/*.scala", recursive=True))
    return engine, [f"{HERE}/build.sbt", f"{HERE}/project/build.properties"] + bench


def spark_home():
    """$SPARK_HOME, else the Spark install whose bin/ holds spark-submit."""
    submit = shutil.which("spark-submit")
    home = os.environ.get("SPARK_HOME") or (
        submit and os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    if not home:
        raise SystemExit("Spark not found: set SPARK_HOME")
    return home


def build():
    """Compile the harness with the engine's sources, unless a build of
    exactly these sources exists. Returns the runtime classpath."""
    engine, bench = sources()
    tree = digest_files(engine + bench)
    stamp_path = f"{BUILD}/build.json"
    if os.path.exists(stamp_path):
        stamp = json.load(open(stamp_path))
        if stamp["tree"] == tree:
            return stamp["classpath"], tree
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           f"-Dsbt.global.base={BUILD}/sbt-global", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Runtime/fullClasspath"]
    log("building harness and engine (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    with open(f"{BUILD}/build.log", "w") as out:
        proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                              stderr=out, text=True, timeout=800)
    with open(f"{BUILD}/build.log", "a") as out:
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if "scala-library" in l and ":" in l]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"build failed, see {BUILD}/build.log")
    classpath = lines[-1].strip()
    json.dump({"tree": tree, "classpath": classpath}, open(stamp_path, "w"))
    return classpath, tree


def run_harness(classpath, spec, out, seconds, trace, cores, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    local = f"{BUILD}/spark-local"
    tmp = f"{BUILD}/tmp"
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    cmd = [java] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={local}",
        "-cp", classpath, "perfbench.Harness",
        "--kind", spec["kind"], "--data", spec["data"], "--out", out,
        "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores),
        "--setups", str(SETUPS), "--run-id", spec["run_id"]]
    if spec["kind"] == "catalog":
        cmd += ["--queries", ",".join(spec["params"]["queries"])]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    with open(f"{out}/harness.log", "w") as logf:
        proc = subprocess.Popen(cmd, cwd=out, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"harness exceeded the run's time limit, see {out}/harness.log")
    if proc.returncode != 0:
        raise SystemExit(f"harness failed ({proc.returncode}), see {out}/harness.log")
    return json.load(open(f"{out}/result.json"))


def git_rev():
    """HEAD of the checkout, when the checkout is itself a git repository."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10).stdout.split()
    except OSError:
        return None
    return out[1] if len(out) == 2 and os.path.samefile(out[0], ROOT) else None


def end_to_end(res, kind):
    passes = [p for p in res["passes"] if not p["traced"]]
    walls = [p["wall_s"] for p in passes]
    if kind == "catalog":  # one latency per query, from build through the last row
        latencies = [o["s"] for p in passes for o in p["ops"] if o["ok"]]
    else:  # the whole batch pipeline is the one request of a pass
        latencies = walls
    m = {
        "setup_s": M.median([s["setup_s"] for s in res["setups"]]) + res["warm_up_s"],
        "run_s": M.median(walls),
        "query_p50_s": M.percentile(latencies, 50),
        "query_p90_s": M.percentile(latencies, 90),
        "cache_peak_mb": M.median([p["cache_peak_mb"] for p in passes]),
    }
    return m, latencies


def per_layer(res, out, kind, cores):
    spans = [json.loads(l) for l in open(f"{out}/spans.jsonl")]
    jobs = [json.loads(l) for l in open(f"{out}/jobs.jsonl")]
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    # the traced pass with the median wall time stands for the run, so its
    # layer self times and remainder add up to its own wall time
    rep = sorted(traced, key=lambda p: p["wall_s"])[(len(traced) - 1) // 2]
    i = rep["index"]
    m = M.layer_metrics([s for s in spans if s["pass"] == i], [j for j in jobs if j["pass"] == i],
                        cores, rep["cache_peak_mb"], kind)
    m["session.build_s"] = M.median([s["build_s"] for s in res["setups"]])
    m["trace.overhead"] = M.median([p["wall_s"] for p in traced]) / M.median(plain)
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    workloads = json.load(open(f"{HERE}/workloads.json"))
    if args.workload not in workloads:
        raise SystemExit(f"unknown workload {args.workload}; one of {sorted(workloads)}")
    wl = workloads[args.workload]
    kind, params = wl["kind"], wl["params"]
    classpath, tree = build()
    # one CPU is left to the driver thread, the JIT and the GC: with Spark
    # on all 4 CPUs the spread of run_s over ten runs was 19%, on 3 it was 5%
    cpus = len(os.sched_getaffinity(0))
    cores = max(1, cpus - 1)

    data = f"{BUILD}/inputs/{args.workload}"
    out = f"{BUILD}/out/{args.workload}"
    for d in (data, out):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    if kind == "pipeline":
        gen.corpus(data, args.seed, params)
    else:
        gen.catalog(data, args.seed, params["sf"])
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
    spec = {"kind": kind, "data": data, "params": params, "run_id": run_id}
    res = run_harness(classpath, spec, out, args.seconds, args.trace, cores, deadline - 10)

    checks = (check.check_pipeline(out, f"{data}/corpus.parquet") if kind == "pipeline"
              else check.check_catalog(out, data))
    ops = [o for p in res["passes"] for o in p["ops"]] + res["check_ops"]
    failed_ops = [o["name"] for o in ops if not o["ok"]]
    failed_checks = [(n, d) for n, ok, d in checks if not ok]
    attempted = len(ops) + len(checks)
    failed = len(failed_ops) + len(failed_checks)
    for n, d in failed_checks:
        log(f"check failed: {n}: {d}")
    for n in failed_ops:
        log(f"operation failed: {n}")

    e2e, latencies = end_to_end(res, kind)
    stamp = {
        "workload": args.workload, "params": params, "seed": args.seed,
        "input_digest": gen.digest(data), "cpus": cpus, "spark_cores": cores,
        "advisory_mb": res["advisory_mb"],
        "rev": git_rev(), "tree": tree,
        "bench": digest_files(sorted(glob.glob(f"{HERE}/*.py") + glob.glob(f"{HERE}/*.json"))),
        "java": res["java"], "spark": res["spark"],
        "session": "warm: the JIT warmed by the untimed warm-up",
        "memos": "cold: a new session per pass" if kind == "catalog" else "n/a",
        "run_seconds": args.seconds, "trace": args.trace,
    }
    record = {"stamp": stamp, "end_to_end": e2e, "query_latencies_s": latencies,
              "failed_frac": failed / attempted, "attempted": attempted, "failed": failed,
              "failed_checks": failed_checks, "failed_ops": failed_ops,
              "passes": [{k: p[k] for k in ("index", "traced", "wall_s", "cache_peak_mb")}
                         for p in res["passes"]],
              "setups": res["setups"], "warm_up_s": res["warm_up_s"]}
    values = e2e
    if args.trace:
        values = record["per_layer"] = per_layer(res, out, kind, cores)
        record["spans_file"] = os.path.relpath(f"{out}/spans.jsonl", ROOT)
    listed = json.load(open(f"{ROOT}/BENCHMARK.json"))["per_layer" if args.trace else "end_to_end"]
    shown = {d["name"]: (values[d["name"]], d["unit"]) for d in listed}
    os.makedirs(f"{BUILD}/results", exist_ok=True)
    with open(f"{BUILD}/results/{run_id}.json", "w") as f:
        json.dump(record, f, indent=1)

    tail = M.tail_percentile(latencies)
    print(f"workload {args.workload} seed {args.seed} cpus {cpus} (Spark cores {cores}) "
          f"rev {stamp['rev'] or 'n/a'}")
    for name, (v, unit) in shown.items():
        print(f"  {name:32s} {v:12.4f} {unit}")
    print(f"  {'failed_frac':32s} {failed / attempted:12.4f} 1  ({failed} of {attempted})")
    print(f"  query samples {len(latencies)}; highest percentile with ten beyond it: "
          + (f"p{tail[0]} = {tail[1]:.4f} s" if tail else "none (too few samples)"))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": v, "unit": u} for n, (v, u) in shown.items()}}))


if __name__ == "__main__":
    main()
