#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <store_churn|corpus_pipeline>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selfcheck

Run from the root of a checkout. Builds the engine and the harness from
source when they changed (sbt, offline), makes the workload's inputs from
the seed (perfbench/gen.py), runs the harness JVM, and prints every metric
with its unit. The last line of stdout is the result object:
{"correct", "attempted", "failed", "metrics"} — the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
Build output, results and span files go under .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "launch.txt")
STAMP = os.path.join(BUILD, "launch.stamp")
WORKLOADS = ("store_churn", "corpus_pipeline")
HEAP = "3g"
JVM_TIMEOUT_S = 165

DETAIL_UNITS = {
    "rag_p50_ms": "ms", "knn_exact_p50_ms": "ms", "knn_ivf_p50_ms": "ms",
    "write_p50_ms": "ms", "tail_ms": "ms", "tail_level": "percentile",
    "recall_at_5": "fraction", "ingest_chunks_per_s": "1/s", "compact_s": "s",
    "space_amp": "ratio", "ops_per_s": "1/s", "operations": "count",
    "pipeline_docs_per_s": "1/s", "shards_timed": "count",
}


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads: the engine's and the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            files += [os.path.join(dirpath, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness if any source changed; return the JVM args
    and the digest of the sources they were built from."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("the engine sources (build.sbt, src/main/scala) are not in this checkout")
    stamp = digest(sources())
    fresh = os.path.isfile(LAUNCH) and os.path.isfile(STAMP) \
        and open(STAMP).read() == stamp
    if not fresh:
        os.makedirs(BUILD, exist_ok=True)
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as fh:
            rc = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                cwd=HERE, stdout=fh, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=840)
        if rc != 0 or not os.path.isfile(LAUNCH):
            sys.stderr.write(open(log).read()[-4000:])
            die(f"build failed (sbt exit {rc}); log in {log}")
        with open(STAMP, "w") as fh:
            fh.write(stamp)
    with open(LAUNCH) as fh:
        return [l for l in fh.read().split("\n") if l], stamp


def run_jvm(launch, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    # no perf-data file: the JVM would write it outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] + launch + \
        ["perfbench.Main"] + args
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    return rc, log


def selfcheck():
    launch, _ = build()
    work = os.path.join(BUILD, f"selfcheck-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        gen_ok = subprocess.call(
            [sys.executable, os.path.join(HERE, "gen.py"), "--check", work]) == 0
        rc, log = run_jvm(launch, ["--selfcheck", work], work)
        with open(log) as fh:
            for line in fh:
                if line.startswith(("ok  ", "FAIL")):
                    print(line.rstrip())
        ok = gen_ok and rc == 0
        print("selfcheck", "passed" if ok else "FAILED")
        return 0 if ok else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if a.selfcheck:
        sys.exit(selfcheck())
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_file):
        die("BENCHMARK.json is missing")
    with open(bench_file) as fh:
        spec = json.load(fh)

    launch, stamp = build()
    work = os.path.join(BUILD, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        sub = "shards" if a.workload == "corpus_pipeline" else "serve"
        subprocess.check_call([sys.executable, os.path.join(HERE, "gen.py"),
                               "--workload", a.workload, "--seed", str(a.seed),
                               "--out", os.path.join(work, sub)])
        out = os.path.join(work, "result.json")
        # output checksums of runs of the same build with the same seed
        checksums = os.path.join(BUILD, "checksums", stamp[:16],
                                 f"{a.workload}-{a.seed}.tsv")
        rc, log = run_jvm(launch, [
            "--workload", a.workload, "--work", work, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out, "--checksums", checksums], work)
        if rc != 0 or not os.path.isfile(out):
            sys.stderr.write(open(log).read()[-6000:])
            die(f"harness JVM failed ({rc})", 1)
        with open(out) as fh:
            res = json.load(fh)
        keep = os.path.join(BUILD, "results")
        os.makedirs(keep, exist_ok=True)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        shutil.copy(out, os.path.join(keep, tag + ".json"))
        shutil.copy(log, os.path.join(keep, tag + ".log"))
        if a.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(keep, tag + ".spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, layers = res["end_to_end"], res["per_layer"]
    for f in res["failures"]:
        print(f"check failed: {f}")
    print(f"probe before: {res['probe_pre']}  after: {res['probe_post']}")
    for m in spec["end_to_end"]:
        print(f"{m['name']:>28} {e2e[m['name']]:>14.4f} {m['unit']}")
    for k, v in sorted(res["details"].items()):
        print(f"{k:>28} {v:>14.4f} {DETAIL_UNITS.get(k, '')}")
    print(f"{'error_rate':>28} {res['failed'] / max(res['attempted'], 1):>14.4f} fraction")
    if a.trace:
        for m in spec["per_layer"]:
            print(f"{m['name']:>52} {layers[m['name']]:>14.4f} {m['unit']}")
    chosen = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = layers if a.trace else e2e
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
                    for m in chosen},
    }))


if __name__ == "__main__":
    main()
