#!/usr/bin/env python3
"""graft lifecycle benchmark.

  python3 perfbench/run.py --workload <cdc_backfill|query_suite>
                           --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine plus the benchmark harness
(sbt, offline) on first use, generates the workload's inputs from the
seed, runs one engine process, checks its outputs and prints, as the last
line, {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The
line before it carries details: the named lifecycle metrics, the
calibration probe, the effective Spark conf and every failure.

With --artifact DIR a traced run also writes DIR/<workload>.json: the
detail and result lines plus every recorded span.
"""
import argparse
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("cdc_backfill", "query_suite")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha1()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    cp_file = os.path.join(HERE, "target", "perfbench.classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home and shutil.which("spark-submit"):
        spark_home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not spark_home:
        die("no Spark install found (set SPARK_HOME)")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts), SPARK_HOME=spark_home)
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                          cwd=HERE, env=env, capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("/")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        die("build failed")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1]


def make_inputs(workload, seed, input_dir):
    if workload == "cdc_backfill":
        counts = gen.backfill(seed, input_dir)
    else:
        counts = gen.tables(seed, input_dir)
        with open(os.path.join(input_dir, "queries.json"), "w") as fh:
            json.dump(M.QUERIES, fh)
    with open(os.path.join(input_dir, "counts.json"), "w") as fh:
        json.dump(counts, fh)


def run_engine(cp, args, work, deadline):
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed, pre-touched heap keeps peak RSS from tracking GC timing
    cmd = ["java", *ADD_OPENS, "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.Main", args.workload, work, str(args.seconds), str(args.trace),
           str(args.seed)]
    with open(os.path.join(work, "engine.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            rc = "timeout"
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(work, "engine.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        die(f"engine run failed ({rc})")
    with open(result) as fh:
        return json.load(fh)


def end_to_end(workload, res, work, detail):
    raw = res["raw"]
    attempted, failed = res["attempted"], len(res["failures"])
    if workload == "cdc_backfill":
        drains = raw["drains"]
        throughput = M.median([d["events"] / d["wall_s"] for d in drains])
        lat = []
        for d in drains:
            for feed in ("cdc", "ide"):
                files = [dict(file=os.path.join(work, "input", f"feed_{feed}", f), due_ms=d["start_ms"])
                         for f in sorted(os.listdir(os.path.join(work, "input", f"feed_{feed}")))]
                got, missing = M.file_latencies(files, d["batch_of"][feed], d["queries"][f"ckpt_{feed}"],
                                                raw["batches"])
                lat += got
                failed += len(missing)
        detail.update(events_per_s=throughput, drains=len(drains),
                      drain_wall_s=[d["wall_s"] for d in drains])
    else:
        samples = raw["samples"]
        lat = [s["s"] for s in samples]
        throughput = len(lat) / sum(lat)
        checked, bad = oracle.check(os.path.join(work, "input"), work)
        attempted += checked
        failed += len(bad)
        res["failures"] += bad
        per_query = {}
        for s in samples:
            per_query.setdefault(s["query"], []).append(s["s"])
        detail.update(suite_pass_s=M.median([p["s"] for p in raw["passes"]]), query_p50_s=M.median(lat),
                      passes=len(raw["passes"]), pass_s=[p["s"] for p in raw["passes"]],
                      oracle_checked=checked,
                      query_s={q: M.median(v) for q, v in per_query.items()})
    label, tail_value = M.tail(lat)
    detail.update(latency_tail_s=tail_value, latency_tail_pct=label, latency_samples=len(lat))
    values = {
        "setup_s": raw["setup_s"],
        "peak_rss_mb": raw["peak_rss_mb"],
        "throughput_per_s": throughput,
        "latency_p50_s": M.median(lat),
        "bytes_stored_per_input_byte": raw["stored_bytes"] / raw["input_bytes"],
    }
    return attempted, failed, values


def per_layer(res):
    layers = dict(res["layers"])
    layers["host.calibration_s"] = res["raw"]["calibration_s"]
    return {name: {"value": float(layers.get(name, 0.0)), "unit": unit} for name, unit in M.PER_LAYER}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--artifact", help="dir for the traced run's artifact (with --trace 1)")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Pipeline.scala")):
        die("engine sources (src/main/scala/graft) not found; run from a full checkout")
    cp = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        make_inputs(args.workload, args.seed, os.path.join(work, "input"))
        res = run_engine(cp, args, work, deadline)
        detail = {"workload": args.workload, "seed": args.seed, "cpus": res["raw"]["cpus"],
                  "calibration_s": res["raw"]["calibration_s"], "engine_marks_s": res["marks"]}
        attempted, failed, values = end_to_end(args.workload, res, work, detail)
        detail.update(failed_ratio=failed / max(1, attempted), failures=res["failures"],
                      conf=res["raw"]["conf"])
        if args.trace:
            out = per_layer(res)
        else:
            out = {k: {"value": float(v), "unit": M.END_TO_END[k][0]} for k, v in values.items()}
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}
        if args.trace and args.artifact:
            with open(os.path.join(work, "trace.json")) as fh:
                spans = json.load(fh)
            os.makedirs(args.artifact, exist_ok=True)
            # paths in the artifact are relative to the checkout
            text = json.dumps({"detail": detail, "result": result, "spans": spans}, indent=1)
            with open(os.path.join(args.artifact, f"{args.workload}.json"), "w") as fh:
                fh.write(text.replace(ROOT + os.sep, ""))
        print(json.dumps({"detail": detail}))
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
