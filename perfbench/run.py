#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Builds the program and the benchmark from source (perfbench/build.py),
generates the seeded inputs (perfbench/gen.py, cached per seed and size in
.bench_build/data), runs the workload in one JVM, checks every output
against DuckDB (perfbench/check.py) and prints, as the last line of
standard output, one JSON object: correct, attempted, failed and metrics.
With --trace 0 the metrics are BENCHMARK.json's end_to_end list; with
--trace 1 they are its per_layer list, from a run that records spans and
Spark listener counters. A line before it records the machine, versions,
sample counts and any failures.

Workloads: serve and corpus (see BENCHMARK.json). Traced runs of either
also report the heavy operators one by one, the native kernels and one pass
of the write path (markdown load, index build and updates, static pages,
index lookups), and write their spans to .bench_build/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
# One dataset per seed serves every workload: the star schema at a tenth of
# tools/gen_sf.py's sf1 (600k lineitem rows), 5k documents, 2k embeddings
# and a 400-file markdown tree with two change batches.
DATA = dict(scale=0.1, docs=5000, vecs=2000, md_docs=400, md_batches=2)
JVM_TIMEOUT_S = 165
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def box() -> dict:
    mem = next((line.split()[1] for line in open("/proc/meminfo") if line.startswith("MemTotal:")), "0")
    return {"nproc": os.cpu_count(), "mem_total_kb": int(mem), "loadavg": os.getloadavg()}


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def end_to_end(res: dict) -> dict:
    single = res["single"]
    medians = [statistics.median(xs) for xs in single["ops"].values()]
    return {
        "setup_s": res["jvm_start_s"] + statistics.median(res["setup_s"]),
        "pass_s": sum(medians) / 1e3,
        "op_gmean_ms": statistics.geometric_mean(medians),
        "peak_mem_mb": res["peak_mem_mb"],
    }


def run_jvm(classpath: str, args: argparse.Namespace, data: str, work: str) -> dict:
    java = build.java()
    cmd = [java, *[x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dspark.local.dir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--data", data, "--work", work,
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--seed", str(args.seed)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()), SPARK_LOCAL_DIRS=f"{work}/tmp")
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
        raise SystemExit(f"run: the benchmark JVM exited with {proc.returncode}")
    return json.load(open(result))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["serve", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM (see run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    box_start = box()

    t0 = time.time()
    classpath = build.build()
    build_s = time.time() - t0
    t0 = time.time()
    data = gen.ensure(os.path.join(build.OUT, "data"), args.seed, **DATA)
    data_s = time.time() - t0

    work = os.path.join(build.OUT, "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        res = run_jvm(classpath, args, data, work)
        checks = os.path.join(work, "checks")
        if args.workload == "serve":
            checked, failures = check.serve(data, checks)
        else:
            names = sorted(d for d in os.listdir(checks) if os.path.isdir(os.path.join(checks, d)))
            checked, failures = check.queries(data, checks, names)
        if args.trace:
            more, fails = check.ingest(data, checks)
            checked, failures = checked + more, failures + fails
            traces = os.path.join(build.OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(traces, f"{args.workload}-{args.seed}.jsonl")
            shutil.move(os.path.join(work, "spans.jsonl"), spans)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = res["attempted"] + checked
    failed = res["failed"] + len(failures)
    if args.trace:
        values, wanted = res["layers"], spec["per_layer"]
    else:
        values, wanted = end_to_end(res), spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise SystemExit(f"run: metrics not measured: {missing}")
    single = res["single"]
    info = {}
    if args.trace:
        self_ms = {}
        for line in open(spans):
            sp = json.loads(line)
            self_ms[sp["name"]] = self_ms.get(sp["name"], 0.0) + sp["self_ns"] / 1e6
        info = {"spans": spans, "span_self_ms": {k: round(v, 1) for k, v in sorted(self_ms.items())}}
    print(json.dumps({**info,
        "box": {"start": box_start, "end": box()}, "git_commit": git_commit(),
        "java": res["java_version"], "spark": res["spark_version"],
        "build_s": round(build_s, 3), "data_s": round(data_s, 3), "data": os.path.basename(data),
        "single_client": {"passes": single["passes"], "ops": len(single["ops"]),
                          "samples": sum(len(x) for x in single["ops"].values()),
                          "median_ms": {k: round(statistics.median(v), 1)
                                        for k, v in single["ops"].items()}},
        "setup_samples_s": res["setup_s"], "vm_hwm_mb": round(res["vm_hwm_mb"], 1),
        "failures": (res["errors"] + failures)[:20]}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
