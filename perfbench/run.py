"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (offline) and generates the fixture tables; both are kept
under `.bench_build/` and reused while the sources are unchanged. Each run
then starts one JVM (`perfbench.Harness`) that sets up, checks every
query's result against `fingerprints.json` in an untimed warm-up pass, and
times closed-loop passes over the workload's query list, in an order
permuted by the seed. The last
line printed is one JSON object: with `--trace 0` the end-to-end metrics,
with `--trace 1` the per-layer ones. A full report (environment, per-query
times, span file, self times) goes to `.bench_build/results/`.
"""

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import metrics  # noqa: E402

JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 600
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def sources_digest():
    """Digest of everything the build compiles, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(x for x in subdirs if x != "target")
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source digest; return the classpath."""
    digest = sources_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        classpath = open(cp_file).read().strip()
        # sbt's output under target/ may have been removed since
        if all(os.path.exists(p) for p in classpath.split(os.pathsep)):
            return classpath
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=BUILD_TIMEOUT_S)
        log.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (see {os.path.join(BUILD, 'build.log')})")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def fixture_dir(scale):
    d = os.path.join(BUILD, "fixtures", f"sf{scale}")
    if not os.path.exists(os.path.join(d, "done")):
        import fixtures  # numpy and pyarrow are needed only here
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        fixtures.write(tmp, scale)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        open(os.path.join(d, "done"), "w").close()
    return d


def git_commit():
    """HEAD of the checkout, or None when it is not a git work tree of its own."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    out = r.stdout.split()
    if r.returncode != 0 or len(out) != 2 or os.path.realpath(out[0]) != os.path.realpath(ROOT):
        return None
    return out[1]


def run_harness(classpath, data, order, seconds, trace, drain_cap, tag):
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    queries = os.path.join(work, "queries.txt")
    with open(queries, "w") as f:
        f.write("\n".join(order) + "\n")
    raw_path = os.path.join(results, f"{tag}.raw.json")
    spans_path = os.path.join(results, f"{tag}.spans.jsonl")
    cores = len(os.sched_getaffinity(0))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    # Spark would otherwise resolve the host's name at start-up
    env.update(SPARK_GRAFT_CPUS=str(cores), SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "local"),
               SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    os.makedirs(os.path.join(work, "local"))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-cp", classpath, "perfbench.Harness",
        "--queries", queries, "--data", data, "--cores", str(cores),
        "--seconds", str(seconds), "--trace", str(trace), "--drain-cap", str(drain_cap),
        "--out", raw_path, "--spans", spans_path]
    log_path = os.path.join(results, f"{tag}.jvm.log")
    with open(log_path, "w") as log:
        # set-up time runs from here, so JVM start counts
        cmd += ["--launch-epoch-ns", str(time.time_ns())]
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness {'timed out' if code is None else f'exited {code}'} (log: {log_path})")
    spans = []
    with open(spans_path) as f:
        for line in f:
            spans.append(json.loads(line))
    return load_json(raw_path), spans, spans_path


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="default: run_seconds in BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}; run from the root of a checkout")
    spec = load_json(os.path.join(HERE, "workloads.json"))
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload!r}; known: {', '.join(spec['workloads'])}")
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    if args.seconds is None:
        args.seconds = bench["run_seconds"]
    drain_name = "kinesis_drain"

    # The seed only permutes the order within each pass; the program
    # receives nothing but the queries.
    order = list(spec["workloads"][args.workload])
    random.Random(args.seed).shuffle(order)

    classpath = build()
    data = fixture_dir(spec["fixture_scale"])
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    raw, spans, spans_path = run_harness(classpath, data, order, args.seconds, args.trace,
                                         spec["drain_cap"], tag)

    # correctness: warm-up fingerprints against the recorded ones
    expected = load_json(os.path.join(HERE, "fingerprints.json"))
    got = {c["query"]: c for c in raw["checks"]}
    mismatched = sorted(q for q, c in got.items()
                        if "error" in c or expected.get(q) != {"rows": c["rows"], "hash": c["hash"]})
    failed_execs = [e for e in raw["execs"] if "error" in e]
    attempted = len(raw["checks"]) + len(raw["execs"])
    failed = len(mismatched) + len(failed_execs)

    drain_rows = got.get(drain_name, {}).get("rows", 0)
    values = (metrics.per_layer(raw, spans, drain_name, drain_rows) if args.trace
              else metrics.end_to_end(raw))
    line = metrics.result_line(bench, args.trace, values, attempted, failed)

    untraced = [e["total_s"] for e in raw["execs"] if not e["traced"]]
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "order": order, "git_commit": git_commit(),
        "sources_digest": sources_digest(), "env": raw["env"],
        "setup_s": raw["setup_s"], "session_s": raw["session_s"],
        "warmup_s": raw["warmup_s"],
        "warmup_per_query_s": {c["query"]: c["warm_s"] for c in raw["checks"]},
        "passes": raw["passes"],
        "query_samples": len(untraced),
        "query_p50_s": statistics.median(untraced) if untraced else None,
        "query_tail": metrics.tail(untraced) if untraced else None,
        "per_query_median_s": {q: statistics.median(e["total_s"] for e in raw["execs"] if e["query"] == q)
                               for q in order},
        "mismatched": mismatched, "failed_execs": failed_execs,
        "self_s": metrics.self_times(spans) if spans else {},
        "spans_file": spans_path, "metrics": line["metrics"],
    }
    report_path = os.path.join(BUILD, "results", tag + ".json")
    with open(report_path, "w") as f:
        json.dump(report, f, indent=2)

    tail = report["query_tail"]
    print(f"workload={args.workload} seed={args.seed} order={','.join(order)}")
    print(f"env cores={raw['env']['cores']} spark={raw['env']['spark_version']} "
          f"heap_max_mb={raw['env']['heap_max_mb']:.0f} cpu_canary_s={raw['env']['cpu_canary_s']:.4f} "
          f"local_dir={raw['env']['local_dir']} commit={report['git_commit']}")
    if untraced:
        print(f"query samples={len(untraced)} p50={report['query_p50_s']:.4f}s tail="
              + (f"p{tail['p']}={tail['value']:.4f}s" if tail else "none (fewer than 10 beyond p75)"))
    for q in mismatched:
        print(f"MISMATCH {q}: expected {expected.get(q)} got {got[q]}")
    print(f"report={report_path}")
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
