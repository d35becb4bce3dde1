#!/usr/bin/env python3
"""Benchmark command: build the engine with the benchmark, run one workload
for one seed in one JVM, check its outputs and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics are
the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer ones. The
lines before it name every metric of the workload with its unit. The run's
artifact (host stamp, raw operation records, spans, Spark jobs) lands in
.perfbench/runs/<workload>-<seed>-<trace>/. See perfbench/README.md.
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

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

WORKLOADS = ("transfer", "relational", "corpus")
BENCH = "perfbench"
STATE = ".perfbench"
# the JVM gets this much for set-up and its last pass, on top of --seconds
JVM_GRACE_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    """Digest of every file the build compiles; it keys the build cache and
    stamps the artifact (a checkout need not be a git repository)."""
    h = hashlib.sha256()
    for root in ("src/main", f"{BENCH}/src", f"{BENCH}/project"):
        for d, dirs, files in sorted(os.walk(root)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(f"{BENCH}/build.sbt", "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true"
                           " -Dsbt.override.build.repos=true"
                           f" -Dsbt.repository.config={repos}").strip()
    return env


def build():
    """Compile with sbt once per source digest; return the runtime classpath."""
    if not os.path.isdir("src/main/scala") or not os.path.isfile(f"{BENCH}/build.sbt"):
        fail("run from the repository root: the engine sources are missing")
    digest = source_digest()
    cache = os.path.join(STATE, "classpath")
    if os.path.isfile(cache):
        with open(cache) as fh:
            stamp, cp = fh.read().split("\n", 1)
        if stamp == digest:
            return cp.strip(), digest
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(STATE, exist_ok=True)
    with open(cache, "w") as fh:
        fh.write(digest + "\n" + lines[-1])
    return lines[-1], digest


def read_proc(path):
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return ""


def host_counters():
    """Steal jiffies and PSI stall totals (µs); deltas are stamped, never used
    to drop, retry or pick runs."""
    out = {}
    cpu = read_proc("/proc/stat").splitlines()
    if cpu and cpu[0].startswith("cpu "):
        fields = cpu[0].split()
        out["steal_jiffies"] = int(fields[8]) if len(fields) > 8 else 0
    for res in ("cpu", "memory", "io"):
        for line in read_proc(f"/proc/pressure/{res}").splitlines():
            kind, *kv = line.split()
            total = dict(x.split("=") for x in kv).get("total")
            if total is not None:
                out[f"psi_{res}_{kind}_us"] = int(total)
    return out


def run_jvm(cp, args, out_dir, timeout_s):
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           # a fixed-size heap under the parallel collector: eden is touched
           # whole by the first young collection, so the peak resident set
           # tracks retained memory rather than when the heap happened to grow
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
              "-XX:ReservedCodeCacheSize=512m",
              f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={out_dir}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "perfbench.Main"] + args)
    with open(os.path.join(out_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"the JVM ran past {timeout_s:.0f} s; see {out_dir}/jvm.log")
    if code != 0:
        with open(os.path.join(out_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"the JVM exited with code {code}")


def load_result(out_dir):
    with open(os.path.join(out_dir, "result.json")) as fh:
        result = json.load(fh)
    with open(os.path.join(out_dir, "trace.jsonl")) as fh:
        trace = [json.loads(line) for line in fh if line.strip()]
    return result, trace


def end_to_end(result):
    """The gate metrics (BENCHMARK.json end_to_end) and the workload's own
    named metrics, over all timed passes of the run."""
    wl = result["workload"]
    ops = result["ops"]
    passes = sorted({o["pass"] for o in ops})
    total_ms = sum(o["end_ms"] - o["start_ms"] for o in ops)
    per_pass_ms = [sum(o["end_ms"] - o["start_ms"] for o in ops if o["pass"] == p)
                   for p in passes]
    # latencies are over every attempted operation, failed ones included: the
    # tail percentile is fixed by the workload's shape (the operations of its
    # minimum passes), not by how many passes this run fitted, and is applied
    # to the same kind of sample it was derived from
    unit_ms = [o["end_ms"] - o["start_ms"] for o in ops]
    n_min = sum(1 for o in ops if o["pass"] in passes[:result["min_passes"]])
    tail_p = stats.tail_percentile(n_min) or 100
    if wl == "transfer":
        def rate(prefix):
            sel = [o for o in ops if o["name"] == prefix or o["name"].startswith(prefix + ".")
                   or o["name"].startswith(prefix + "/")]
            secs = sum(o["end_ms"] - o["start_ms"] for o in sel) / 1000.0
            return (sum(o["units"] for o in sel if o["ok"]) / secs if secs else 0.0, "rows/s")
        rates = {"pull_rows_per_s": rate("Transfer.pull"),
                 "chunked_resume_rows_per_s": rate("Transfer.pullChunked"),
                 "jdbc_import_rows_per_s": rate("Transfer.pullToJdbc"),
                 "jdbc_read_rows_per_s": rate("Jdbc.read")}
        # one rate per call type, not rows over all calls' time, so a table
        # that starts to import (slow Derby rows beside fast Parquet rows)
        # does not read as a slowdown
        throughput = stats.geomean([v for v, _ in rates.values()])
    else:
        throughput = sum(o["units"] for o in ops if o["ok"]) / (total_ms / 1000.0)
    gate = {
        "setup_s": ((result["setup_end_ms"] - result["jvm_start_ms"]) / 1000.0, "s"),
        "peak_rss_mb": (result["peak_rss_kb"] / 1024.0, "MB"),
        "success_ratio": (sum(o["ok"] for o in ops) / len(ops), "ratio"),
        "throughput": (throughput, "1/s"),
        "op_p50_ms": (stats.median(unit_ms), "ms"),
        "op_tail_ms": (stats.percentile(unit_ms, tail_p), "ms"),
    }
    named = {
        "setup_s": gate["setup_s"], "peak_rss_mb": gate["peak_rss_mb"],
        "failed_ratio": (sum(not o["ok"] for o in ops) / len(ops), "ratio"),
    }
    if wl == "transfer":
        counters = result["passes"][-1]
        named.update(rates, write_bytes_per_source_byte=(
            counters["dest_bytes"] / counters["source_bytes"], "ratio"))
    else:
        named.update({
            "wall_s": (stats.median(per_pass_ms) / 1000.0, "s"),
            "query_p50_s": (stats.median(unit_ms) / 1000.0, "s"),
            f"query_p{tail_p}_s": (gate["op_tail_ms"][0] / 1000.0, "s"),
        })
    return gate, named, {"tail_percentile": tail_p, "samples": len(ops),
                         "passes": len(passes)}


def pass_op_s(result):
    """Median over passes of the summed operation time of a pass."""
    ops = result["ops"]
    return stats.median([sum(o["end_ms"] - o["start_ms"] for o in ops if o["pass"] == p)
                         for p in {o["pass"] for o in ops}]) / 1000.0


def per_layer(result, trace):
    """Per-layer metrics of a traced run (medians over its passes) and the
    span table: total and self time per span name, per pass."""
    cores = result["cores"]
    spans = [t for t in trace if t["kind"] == "span"]
    jobs = [t for t in trace if t["kind"] == "job"]
    plans = [t for t in trace if t["kind"] == "plan"]
    ops = result["ops"]
    passes = sorted({o["pass"] for o in ops})
    per_pass = [stats.layer_totals([o for o in ops if o["pass"] == p], jobs, plans, cores)
                for p in passes]
    layers = {k: stats.median([t[k] for t in per_pass]) for k in per_pass[0]}

    warm_iv = [(s["start_ms"], s["end_ms"]) for s in spans if s["name"] == "Tables.warm_scan"]
    layers["warm_scan_s"] = sum(e - s for s, e in warm_iv) / 1000.0
    layers["warm_scan_bytes"] = sum(j["input_bytes"] for j in jobs
                                    if any(s <= j["start_ms"] <= e for s, e in warm_iv))
    for k in ("dest_files", "resume_rewrites", "chunks_moved_first",
              "chunks_pending_after_first", "jdbc_rows_imported", "jdbc_rows_read",
              "jdbc_tables_failed"):
        layers[k] = stats.median([p.get(k, 0) for p in result["passes"]])

    # self time of each benchmark span: the span minus the part its child
    # spans cover
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    table = {}
    for s in spans:
        if s["start_ms"] < result["setup_end_ms"]:
            continue
        top = s["parent"] < 0
        name = ("op " if top else "") + (
            "SparkEntry.queries" if top and result["workload"] != "transfer"
            else s["name"].split("/")[0])
        row = table.setdefault(name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
        row["count"] += 1
        row["total_s"] += (s["end_ms"] - s["start_ms"]) / 1000.0
        row["self_s"] += stats.self_time((s["start_ms"], s["end_ms"]),
                                         children.get(s["id"], [])) / 1000.0
    n = len(passes)
    span_table = {k: {kk: (vv / n if kk != "count" else vv // n) for kk, vv in v.items()}
                  for k, v in table.items()}
    # Spark jobs per operation in the first pass (a twin against its key)
    first = [o for o in ops if o["pass"] == passes[0]]
    jobs_per_op = {first[i]["name"]: len(js)
                   for i, js in stats.attribute_jobs(first, jobs).items()}
    return layers, span_table, jobs_per_op


UNITS = {"build_s": "s", "plan_s": "s", "jobs": "count", "stages": "count",
         "tasks": "count", "slot_idle_s": "s", "task_s": "s", "cpu_s": "s", "gc_s": "s",
         "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
         "input_bytes": "bytes", "output_bytes": "bytes", "driver_s": "s",
         "warm_scan_s": "s", "warm_scan_bytes": "bytes",
         "dest_files": "count", "resume_rewrites": "count", "chunks_moved_first": "count",
         "chunks_pending_after_first": "count", "jdbc_rows_imported": "rows",
         "jdbc_rows_read": "rows", "jdbc_tables_failed": "count"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fixtures", default=os.path.expanduser("~/testdata"),
        help="fixture root holding the sf* directories of TESTDATA.md")
    a = ap.parse_args()

    cp, digest = build()
    if a.workload != "transfer" and not os.path.isdir(a.fixtures):
        fail(f"no fixture root at {a.fixtures}")
    out_dir = os.path.join(STATE, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    before, load0, t0 = host_counters(), read_proc("/proc/loadavg").split()[:3], time.time()
    run_jvm(cp, ["run", a.workload, str(a.seed), str(a.seconds), str(a.trace),
                 out_dir, a.fixtures], out_dir, JVM_GRACE_S + a.seconds)
    after, load1 = host_counters(), read_proc("/proc/loadavg").split()[:3]
    result, trace = load_result(out_dir)

    ops = result["ops"]
    if not ops:
        fail("the run recorded no operations")
    correct = not any(o["error"] == "output check failed" for o in ops)
    gate, named, shape = end_to_end(result)
    stamp = {"nproc": result["cores"], "master": result["master"], "heap": HEAP,
             "heap_max_bytes": result["heap_max_bytes"], "source_sha256": digest,
             "seed": a.seed, "workload": a.workload, "trace": a.trace,
             "loadavg_start": load0, "loadavg_end": load1,
             "wall_s": time.time() - t0,
             "deltas": {k: after[k] - before[k] for k in after if k in before}}
    artifact = {"stamp": stamp, "shape": shape, "setup_phases": result["setup_phases"],
                "end_to_end": gate, "named": named,
                "failures": [o for o in ops if not o["ok"]]}
    if a.trace:
        layers, span_table, jobs_per_op = per_layer(result, trace)
        artifact.update(per_layer=layers, spans=span_table, jobs_per_op=jobs_per_op)
        # tracing overhead: this traced run against the untraced run of the
        # same workload and seed, when that run's result is still here
        plain = os.path.join(STATE, "runs", f"{a.workload}-{a.seed}-0", "result.json")
        if os.path.isfile(plain):
            with open(plain) as fh:
                base = pass_op_s(json.load(fh))
            artifact["trace_overhead_s"] = pass_op_s(result) - base
            print(f"{'trace_overhead_s':28s} {artifact['trace_overhead_s']:16.4f} s"
                  f" (pass op time {pass_op_s(result):.4f} s traced vs {base:.4f} s untraced)")
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in layers.items()}
        for k, v in layers.items():
            print(f"{k:28s} {v:16.4f} {UNITS[k]}")
        for k, v in sorted(span_table.items()):
            print(f"span {k:40s} total {v['total_s']:9.4f} s  self {v['self_s']:9.4f} s  x{v['count']}")
        for k, v in sorted(jobs_per_op.items()):
            print(f"jobs {k:40s} {v:6d}")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in gate.items()}
        for k, (v, u) in named.items():
            print(f"{k:28s} {v:16.4f} {u}")
    with open(os.path.join(out_dir, "artifact.json"), "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    print(json.dumps({"correct": correct, "attempted": len(ops),
                      "failed": sum(1 for o in ops if not o["ok"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
