#!/usr/bin/env python3
"""End-to-end benchmark of the ETL engine: three closed-loop workloads, one
benchmark JVM per run on local[4].

    python3 etlbench/run.py --workload batch_etl --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark JVM code from source with sbt (offline, from the local dependency cache) and
caches the classpath under `.bench_build/`. Each run generates its inputs
from `--seed`, runs set-up, one cold pass and a number of warm passes set
by `--seconds`, checks every output and prints one JSON object as its last
stdout line:
the end-to-end metrics with `--trace 0`, the per-layer metrics (from a run
that alternates traced and untraced warm passes) with `--trace 1`.
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
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402

# Input sizes. Chosen so a whole run, set-up and cold pass included, takes
# about half a minute on 4 cores; at these sizes a pass is mostly the
# per-job and per-file costs of Spark, which the per-layer metrics show.
CALL_ROWS = 10000
STREAM_RECORDS = 2400
STREAM_FILES = 8         # one micro-batch per file
TABLE_SEED = 42          # the query-mix tables are frozen with their expected results
TABLE_SCALE = 0.01
JVM_HEAP = "3g"


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print("[etlbench] " + msg, file=sys.stderr, flush=True)


def call(cmd, timeout, **kw):
    """Runs a command in its own process group and waits for it; on timeout
    the whole group (sbt's or the JVM's children too) is killed first."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit("%s timed out after %d s" % (cmd[0], timeout))
    return p.returncode, out


# ---------------------------------------------------------------------------
# Build
# ---------------------------------------------------------------------------

def _build_inputs():
    """Every file the build reads, for the classpath cache key."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                os.path.join(BENCH, "project"), os.path.join(BENCH, "src")):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def build():
    """Compiles the engine and the benchmark JVM code; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in _build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out_dir = os.path.join(ROOT, ".bench_build")
    cp_file = os.path.join(out_dir, "classpath-%s.txt" % h.hexdigest()[:16])
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(out_dir, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"  # resolve from the local cache only
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += " -Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    log("building engine and benchmark with sbt")
    t0 = time.time()
    code, out = call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                     600, cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [ln for ln in out.splitlines() if ln and not ln.startswith("[")]
    if code != 0 or not lines or "etlbench" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    log("build took %.1f s" % (time.time() - t0))
    return cp


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------

def frozen_queries():
    with open(os.path.join(BENCH, "expected", "query_mix.json")) as f:
        return json.load(f)


def make_inputs(workload, seed, inputs, freeze=False):
    """Generates the workload's inputs; returns (input records, expectations)."""
    if workload == "batch_etl":
        meta = gen.write_calls(seed, CALL_ROWS, inputs)
        return meta["expected"]["rows_in"], meta["expected"]
    if workload == "stream_upsert":
        meta = gen.write_stream(seed, STREAM_RECORDS, STREAM_FILES, inputs)
        return meta["expected"]["records"], meta["expected"]
    frozen = frozen_queries()
    if not freeze:
        assert frozen["tables"] == {"seed": TABLE_SEED, "scale": TABLE_SCALE}, \
            "the frozen results are for other tables"
    meta = gen.write_tables(TABLE_SEED, TABLE_SCALE, inputs)
    with open(os.path.join(inputs, "queries.txt"), "w") as f:
        for name, q in frozen["queries"].items():
            f.write("%s %s\n" % (name, "auto" if freeze else q["mode"]))
    return sum(meta["rows"].values()), frozen["queries"]


def freeze(report, names):
    """Rewrites expected/query_mix.json from a run whose modes were `auto`:
    the timing mode Bench picked and each query's row count and hash."""
    modes = report["passes"][0]["counts"]["modes"]
    got = report["check"]["queries"]
    bad = {n: g for n, g in got.items() if "error" in g}
    if bad:
        raise SystemExit("cannot freeze, queries failed: %s" % bad)
    frozen = {"tables": {"seed": TABLE_SEED, "scale": TABLE_SCALE},
              "queries": {n: {"mode": modes[n], "rows": got[n]["rows"], "hash": got[n]["hash"]}
                          for n in names}}
    with open(os.path.join(BENCH, "expected", "query_mix.json"), "w") as f:
        json.dump(frozen, f, indent=1)
        f.write("\n")
    log("froze %d queries" % len(names))


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------

def percentile(xs, p):
    """Linear-interpolated percentile of a non-empty sample."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n):
    """Highest percentile, at most 90 and a multiple of 5, that leaves at
    least ten samples of `n` beyond it; never below the median."""
    p = 90
    while p > 50 and n * (100 - p) / 100.0 < 10:
        p -= 5
    return p


def end_to_end(workload, report, records):
    passes = [p for p in report["passes"] if "wall_s" in p and not p.get("errors")]
    cold = [p for p in passes if p["id"] == 0]
    warm = [p for p in passes if p["id"] > 0]
    # Pass times skip the first warm pass, which still carries JIT and cache
    # warm-up; unit percentiles use every warm pass, for the sample count.
    settled = [p for p in warm if p["id"] > 1]
    if not cold or not settled:
        return None
    setup = [r["session_s"] + r["inputs_s"] + r["warmup_s"] for r in report["setup"]]
    warm_s = statistics.median(p["wall_s"] for p in settled)
    units = [u for p in warm for u in p["units_ms"]]
    tail = tail_percentile(len(units))
    log("%s: %d warm passes, %d units, batch_p90_ms is p%d" % (workload, len(warm), len(units), tail))
    return {
        "setup_s": (statistics.median(setup), "s"),
        "cold_s": (cold[0]["wall_s"], "s"),
        "warm_s": (warm_s, "s"),
        "rows_per_s": (records / warm_s, "1/s"),
        "batch_p50_ms": (percentile(units, 50), "ms"),
        "batch_p90_ms": (percentile(units, tail), "ms"),
        "read_s": (statistics.median(p["read_s"] for p in settled), "s"),
    }


def per_layer(report, declared):
    layers = dict(report.get("layers", {}))
    rows = report["setup"]
    for k in ("session_s", "inputs_s", "warmup_s"):
        layers["setup." + k] = statistics.median(r[k] for r in rows)
    walls = [(p["traced"], p["wall_s"]) for p in report["passes"]
             if "wall_s" in p and p["id"] > 1 and not p.get("errors")]
    traced = [w for t, w in walls if t]
    plain = [w for t, w in walls if not t]
    if traced and plain:
        layers["trace.overhead"] = statistics.median(traced) / statistics.median(plain)
    units = {m["name"]: m["unit"] for m in declared}
    # A layer this workload does not exercise reads 0.
    return {name: (float(layers.get(name, 0.0)), unit) for name, unit in units.items()}


# ---------------------------------------------------------------------------
# Run
# ---------------------------------------------------------------------------

def run(args):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit("unknown workload " + args.workload)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("no engine sources under %s; run from the repository root" % ROOT)
    cp = build()
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    t0 = time.time()
    records, expected = make_inputs(args.workload, args.seed, inputs, args.freeze)
    log("generated inputs in %.1f s" % (time.time() - t0))

    jvm_work = os.path.join(work, "run")
    tmp = os.path.join(jvm_work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "report.json")
    cmd = (["java", "-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP, "-XX:+UseParallelGC"]
           + [a for o in JDK_OPENS for a in ("--add-opens", o + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + tmp, "-Duser.timezone=UTC",
              "-Dspark.local.dir=" + os.path.join(jvm_work, "spark-local"),
              "-Dspark.sql.warehouse.dir=" + os.path.join(jvm_work, "warehouse"),
              "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(jvm_work, "hadoop"),
              "-cp", cp, "graft.etlbench.Main",
              "--workload", args.workload, "--inputs", inputs, "--work", jvm_work,
              "--out", out, "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--seed", str(args.seed), "--queries", os.path.join(inputs, "queries.txt")])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as jl:
        code, _ = call(cmd, 160, cwd=jvm_work, stdout=jl, stderr=subprocess.STDOUT)
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit("benchmark JVM failed with exit code %d" % code)
    with open(out) as f:
        report = json.load(f)

    if args.freeze:
        freeze(report, list(expected))
        return None
    check = {"batch_etl": checks.check_batch, "stream_upsert": checks.check_stream,
             "query_mix": checks.check_queries}[args.workload]
    attempted, failed, problems = check(report, expected)
    for msg in problems:
        log("CHECK FAILED: " + msg)

    if args.trace:
        metrics = per_layer(report, spec["per_layer"])
    else:
        metrics = end_to_end(args.workload, report, records)
    correct = failed == 0 and metrics is not None
    if metrics is None:
        metrics = {}
    # keep the report and spans for inspection, drop the bulky data
    spans = os.path.join(jvm_work, "spans.jsonl")
    if os.path.exists(spans):
        shutil.move(spans, work)
    shutil.rmtree(inputs)
    shutil.rmtree(jvm_work)
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--freeze", action="store_true",
                    help="query_mix only: record each query's timing mode, rows and hash "
                         "in expected/query_mix.json instead of checking them")
    args = ap.parse_args()
    if args.freeze and args.workload != "query_mix":
        raise SystemExit("--freeze applies to query_mix only")
    result = run(args)
    if result is not None:
        print(json.dumps(result))


if __name__ == "__main__":
    main()
