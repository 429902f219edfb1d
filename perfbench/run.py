"""graft benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. It builds graft's main sources with
the benchmark's Scala code (perfbench/build.sbt; rebuilt only when a source
file changes), generates the input tables once, runs the workload in one JVM on
local[N] with N = the usable CPUs, checks every op's output, and prints as
its last line
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1. Everything it writes goes under .perfbench/ in the checkout.
See perfbench/README.md for the workloads and metrics.

    python3 perfbench/run.py --record REPS --workload W
re-records W's reference digests into perfbench/reference.tsv.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import median, percentile  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("warehouse", "corpus_ops", "table_writes")
TAIL_PCT = 90
SCALE = 0.01
TW_SCALE = 0.1         # table_writes' orders: about 60 a day
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# Raw counter names the JVM writes -> reported per-layer names.
RENAMES = {"streaming.drain_s": "streaming.catchup_s"}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    """Hash of the names and contents of the given files and of every file
    under the given directories."""
    h = hashlib.sha256()
    files = []
    for top in paths:
        if os.path.isfile(top):
            files.append(top)
        for d, dirs, names in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, f) for f in names]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, log, timeout, env=None, cwd=None):
    """Runs cmd in its own process group, output to `log`; kills the whole
    group on timeout and always waits for it."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env, cwd=cwd,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build():
    """Compiles graft and the benchmark when a source changed; returns the
    runtime classpath."""
    bench = os.path.join(ROOT, "perfbench")
    key = tree_hash([os.path.join(ROOT, "src", "main"), os.path.join(bench, "src"),
                     os.path.join(bench, "build.sbt"), os.path.join(bench, "project", "build.properties")])
    stamp = os.path.join(STATE, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("key") == key and all(os.path.exists(p) for p in s["cp"].split(os.pathsep)[:1]):
            return s["cp"]
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g").strip()
    log = os.path.join(STATE, "build.log")
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                    "compile", "export Runtime/fullClasspath"], log, 800, env=env, cwd=bench)
    cp = [l.strip() for l in open(log, errors="replace") if l.startswith(os.path.join(bench, "target"))]
    if rc != 0 or not cp:
        die(f"build failed (rc={rc}):\n{tail(log)}")
    with open(stamp, "w") as f:
        json.dump({"key": key, "cp": cp[-1]}, f)
    return cp[-1]


def data():
    """Generates the input tables once per checkout; returns their dir."""
    key = tree_hash([os.path.join(HERE, "gendata.py")])
    out = os.path.join(STATE, "data")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return out
    import gendata  # numpy, pandas and pyarrow take most of a second to load
    shutil.rmtree(out, ignore_errors=True)
    gendata.generate(os.path.join(out, "main"), SCALE)
    gendata.generate_tw(os.path.join(out, "main"), TW_SCALE)
    with open(stamp, "w") as f:
        f.write(key)
    return out


def jvm(args, cp, work, data_dir, out):
    cpus = len(os.sched_getaffinity(0))
    for d in ("tmp", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = ["java"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-Xmn384m", f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", data_dir, "--ref", os.path.join(HERE, "reference.tsv"),
            "--work", work, "--out", out, "--cpus", str(cpus), "--record", str(args.record)]
    log = os.path.join(work, "jvm.log")
    # A run's JVM takes about 40 s at --seconds 10 on 4 cores; the limit
    # leaves room for a slow host and grows with the run length.
    rc = run_child(cmd, log, 170 + 2 * max(0.0, args.seconds - 10), cwd=work)
    if rc != 0 or not os.path.exists(out):
        die(f"workload {args.workload} failed (rc={rc}):\n{tail(log)}")
    with open(out) as f:
        return json.load(f)


def per_op(ops):
    """Each op's median latency over the run's passes."""
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o["s"])
    return [median(v) for v in by.values()]


def end_to_end(r, ops):
    lat = per_op(ops)
    ok = sum(o["ok"] for o in ops)
    return {
        "setup_s": (median(r["setup_s"]) + r["warmup_s"], "s"),
        "wall_s": (median([p["wall_s"] for p in r["passes"]]), "s"),
        "op_p50_s": (median(lat), "s"),
        "op_tail_s": (percentile(lat, TAIL_PCT), "s"),
        "ops_ok_frac": (ok / len(ops), "frac"),
        "peak_rss_mb": (r["peak_rss_mb"], "MB"),
    }


def per_layer(r, names):
    traced = [p for p in r["passes"] if p["traced"]]
    # The first pass runs right after the warm-up (table_writes: cold), so
    # the overhead compares the passes after it.
    plain = [p for p in r["passes"][1:] if not p["traced"]]
    layers = {}
    for p in traced:
        for k, v in p["layers"].items():
            if k.startswith("plans.stmt."):
                k = "plans.stmt_s." + k[len("plans.stmt."):-len("_s")]
            layers.setdefault(RENAMES.get(k, k), []).append(v)
    got = {k: median(v) for k, v in layers.items()}
    ops = [o for p in traced for o in p["ops"]]
    writes = [o["s"] for o in ops if o["kind"] == "write"]
    reads = [o["s"] for o in ops if o["kind"] == "read"]
    if writes:
        got["plans.write_p50_s"] = median(writes)
        got["plans.write_tail_s"] = percentile(writes, TAIL_PCT)
    if reads:
        got["plans.read_p50_s"] = median(reads)
    got["bench.trace_overhead_frac"] = (median([p["wall_s"] for p in traced]) /
                                        median([p["wall_s"] for p in plain]) - 1)
    got["bench.coverage_min"] = min(c[1] for c in r["coverage"])
    return {n["name"]: (got.get(n["name"], 0.0), n["unit"]) for n in names}


def record(r):
    """Writes the reference digests: a repeatable digest where every rep
    agrees, else a row count only."""
    path = os.path.join(HERE, "reference.tsv")
    lines = []
    if os.path.exists(path):
        lines = [l for l in open(path).read().splitlines()
                 if l and not l.startswith("#") and l.split("\t")[0] not in r["record"]]
    for name, reps in sorted(r["record"].items()):
        rows = {x[0] for x in reps}
        hashes = {x[1] for x in reps}
        if len(rows) != 1:
            die(f"{name}: row count differs between reps: {sorted(rows)}")
        h = hashes.pop() if len(hashes) == 1 else "-"
        note = {"-": "\tdigest not repeatable", "no-oracle": "\tno DuckDB oracle"}.get(h, "")
        h = "-" if note else h
        lines.append(f"{name}\t{rows.pop()}\t{h}{note}")
    with open(path, "w") as f:
        f.write("# name\trows\txxhash64 sum, or - for a row-count check\n")
        f.write("\n".join(sorted(lines)) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", type=int, default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"{ROOT} is not a graft checkout (no src/main/scala/graft)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        die("SPARK_HOME must name the Spark installation")
    os.makedirs(STATE, exist_ok=True)
    cp = build()
    data_dir = data()
    work = os.path.join(STATE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    r = jvm(args, cp, work, data_dir, os.path.join(work, "result.json"))
    for w in r["warmup_failed"]:
        print(f"perfbench: warm-up failed: {w}", file=sys.stderr)
    if args.record:
        record(r)
        return
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    ops = [o for p in r["passes"] for o in p["ops"]]
    failed = sum(not o["ok"] for o in ops)
    for o in ops:
        if not o["ok"]:
            print(f"perfbench: {o['name']} failed: {o['err']}", file=sys.stderr)
    if args.trace:
        metrics = per_layer(r, spec["per_layer"])
    else:
        metrics = end_to_end(r, ops)
    print(f"perfbench: {args.workload} seed={args.seed} passes={len(r['passes'])} "
          f"ops={len(ops)} setup={r['setup_s']}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0 and not r["warmup_failed"],
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
