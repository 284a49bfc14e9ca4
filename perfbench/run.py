#!/usr/bin/env python3
"""Pipeline benchmark for the graft engine.

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt depends on the
repository's own build); later runs reuse the build while the sources are
unchanged. Each run then

  1. generates the workload's inputs from the seed in a separate process
     (perfbench/gen.py; cached by workload, seed and scale);
  2. starts the benchmark JVM, pinned to local[nproc] with a fixed heap;
  3. in that JVM runs one cold iteration, then warm iterations for
     --seconds, and checks every operation's result (see Harness.scala);
  4. runs the repository's DuckDB oracle (tools/check.py) over the cold
     iteration's results and the generated inputs;
  5. prints a table of every metric, then one JSON line: the end-to-end
     metrics with --trace 0, the per-layer metrics with --trace 1 (metric
     names and units come from BENCHMARK.json).

Inputs, scratch files and results go under .perfbench/ in the checkout (sbt
writes to its usual target directories); the spans of a run are written to
.perfbench/results/<run id>.spans.jsonl.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

# Input size per workload, in gen.py's units.
SCALE = {"etl_ingest": 0.2, "corpus_dedup": 0.25}
HEAP = "3g"
STEAL_FLAG_PCT = 5.0       # runs above this hypervisor steal are flagged
RUN_BUDGET_S = 170         # everything after the build
BUILD_TIMEOUT_S = 840
KEEP_CACHED_INPUTS = 4     # generated input sets kept per workload
KEEP_RESULTS = 60
# DuckDB re-evaluates the p1 oracle's whole CTE chain at every recursion
# step: 10-25 s on corpus_dedup's input, more than the workload itself.
# Untraced runs check corpus.clean against the cold iteration only.
TRACED_ONLY_GATES = {"p1_clean_corpus"}

SPAN_FIELDS = ("wall_s", "jobs", "tasks", "cpu_s", "gc_s", "shuffle_write_bytes", "driver_s")


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def require_checkout():
    for rel in ("BENCHMARK.json", "build.sbt", "src/main/scala/graft", "tools/check.py",
                "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            raise BenchError(f"not a checkout of the repository: {rel} is missing under {ROOT}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise BenchError("sbt and java must be on PATH")


def source_stamp():
    """Hash of every input to the build."""
    h = hashlib.sha256()
    for rel in ("build.sbt", "project", "src/main", "perfbench/build.sbt", "perfbench/project",
                "perfbench/src"):
        path = os.path.join(ROOT, rel)
        if os.path.isfile(path):
            files = [path]
        elif rel.endswith("project"):  # build definition files only, not sbt's output
            files = sorted(os.path.join(path, f) for f in os.listdir(path)
                           if os.path.isfile(os.path.join(path, f)))
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine and harness; returns the launch spec file."""
    out = os.path.join(STATE, "build")
    launch, stamp_file = os.path.join(out, "launch.txt"), os.path.join(out, "stamp")
    stamp = source_stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return launch
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    t0 = time.monotonic()
    with open(os.path.join(out, "sbt.log"), "w") as fh:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                               cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError("sbt build timed out")
    if r.returncode != 0:
        raise BenchError(f"sbt build failed (exit {r.returncode}); see {out}/sbt.log")
    shutil.copy(os.path.join(HERE, "target", "launch.txt"), launch)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.monotonic() - t0:.1f} s")
    return launch


class Deadline:
    def __init__(self, seconds):
        self.end = time.monotonic() + seconds

    def left(self, cap):
        left = self.end - time.monotonic()
        if left <= 1:
            raise BenchError("run exceeded its time budget")
        return min(cap, left)


def run_proc(cmd, timeout, **kw):
    try:
        return subprocess.run(cmd, timeout=timeout, stdin=subprocess.DEVNULL, **kw)
    except subprocess.TimeoutExpired:
        raise BenchError(f"timed out after {timeout:.0f} s: {' '.join(cmd[:3])} ...")


def inputs(workload, seed, deadline):
    """Generated inputs for (workload, seed, scale), cached."""
    base = os.path.join(STATE, "data")
    key = f"{workload}-s{seed}-x{SCALE[workload]:g}"
    out = os.path.join(base, key)
    if not os.path.exists(os.path.join(out, "DONE")):
        r = run_proc([sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
                      "--seed", str(seed), "--scale", str(SCALE[workload]), "--out", out],
                     deadline.left(60))
        if r.returncode != 0:
            raise BenchError(f"input generation failed (exit {r.returncode})")
        open(os.path.join(out, "DONE"), "w").close()
    os.utime(out)
    cached = sorted((d for d in os.listdir(base) if d.startswith(workload + "-")),
                    key=lambda d: os.path.getmtime(os.path.join(base, d)))
    for old in cached[:-KEEP_CACHED_INPUTS]:
        shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    return out


def cpu_ticks():
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def loadavg():
    return round(os.getloadavg()[0], 2)


def jvm(launch, run_dir, args, timeout):
    with open(launch) as fh:
        lines = fh.read().splitlines()
    cp, opts = lines[0], [o for o in lines[1:] if not o.startswith(("-Xmx", "-Xms"))]
    for d in ("tmp", "local", "warehouse", "work"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # -XX:-UsePerfData: the JVM would otherwise keep a counters file in /tmp
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dspark.hadoop.hadoop.tmp.dir={run_dir}/tmp",
           f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
           *opts, "-cp", cp, "perfbench.Main", *args]
    log_file = os.path.join(run_dir, "jvm.log")
    with open(log_file, "w") as err:
        r = run_proc(cmd + ["--launch-ns", str(time.time_ns())], timeout, cwd=run_dir, env=env,
                     stdout=subprocess.PIPE, stderr=err, text=True)
    if r.returncode != 0:
        with open(log_file) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise BenchError(f"benchmark JVM failed with exit {r.returncode}")
    return r.stdout


def oracle(data, check_dir, gates, deadline):
    """Gate name -> passed, from the repository's DuckDB oracle check."""
    r = run_proc([sys.executable, os.path.join(ROOT, "tools", "check.py"), data, check_dir,
                  *gates], deadline.left(60), cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                 text=True)
    verdict = {g: False for g in gates}  # a gate check.py did not report failed
    for line in r.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL"):
            verdict[rest.split(":")[0].split(" ")[0]] = word == "PASS"
            if word == "FAIL":
                log(line)
    return verdict


def median(xs):
    return statistics.median(xs) if xs else 0.0


def traced_ids(res):
    return {it["iteration"] for it in res["iterations"] if it["traced"] and it["iteration"] > 0}


def metrics(res, gates_ok):
    iters = res["iterations"]
    warm = [it for it in iters if it["iteration"] > 0]
    plain = [it for it in warm if not it["traced"]]
    traced = [it for it in warm if it["traced"]]
    e2e = {
        "run_s": (median([it["wall_s"] for it in plain]), len(plain)),
        "cpu_s": (median([it["cpu_s"] for it in plain]), len(plain)),
        "cold_run_s": (iters[0]["wall_s"], 1),
        "setup_s": (res["setup"]["setup_s"], 1),
        "heap_retained_mb": (res["heap_retained_mb"], 1),
        "write_bytes_per_input_byte": (
            median([it["written_bytes"] / res["input_bytes"] for it in warm]), len(warm)),
    }
    layer = {}
    for s in res["spans"]:
        if s["iteration"] in traced_ids(res):
            for f in SPAN_FIELDS:
                layer.setdefault(f"{s['name']}.{f}", []).append(s[f])
    for it in traced:
        for k, v in it["extras"].items():
            layer.setdefault(k, []).append(v)
    per_layer = {k: (median(v), len(v)) for k, v in layer.items()}
    for k in ("session.create_s", "session.first_query_s"):
        per_layer[k] = (res["setup"][k], 1)
    per_layer["spark.spill_bytes"] = (res["spill_bytes"], 1)
    per_layer["trace.overhead_s"] = (
        median([it["wall_s"] for it in traced]) - median([it["wall_s"] for it in plain]),
        len(traced) + len(plain))
    attempted = sum(o["attempted"] for o in res["ops"].values())
    failed = 0
    for op, o in res["ops"].items():
        gate_failed = o["gate"] in gates_ok and not gates_ok[o["gate"]]
        failed += o["attempted"] if gate_failed else o["failed"]
    return e2e, per_layer, attempted, failed


def main():
    ap = argparse.ArgumentParser(description="graft pipeline benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    try:
        require_checkout()
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        if a.workload not in SCALE:
            raise BenchError(f"unknown workload {a.workload}; choose from {sorted(SCALE)}")
        launch = build()
        deadline = Deadline(RUN_BUDGET_S)
        phases = {}
        t = time.monotonic()
        data = inputs(a.workload, a.seed, deadline)
        phases["inputs"] = time.monotonic() - t
        run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{uuid.uuid4().hex[:8]}"
        run_dir = os.path.join(STATE, "runs", run_id)
        os.makedirs(run_dir)
        try:
            result_file = os.path.join(run_dir, "result.json")
            steal0, total0 = cpu_ticks()
            load0 = loadavg()
            t = time.monotonic()
            jvm(launch, run_dir, [
                "--workload", a.workload, "--data", data, "--work", os.path.join(run_dir, "work"),
                "--seconds", str(a.seconds), "--trace", a.trace, "--run-id", run_id,
                "--out", result_file], deadline.left(150))
            phases["jvm"] = time.monotonic() - t
            steal1, total1 = cpu_ticks()
            load1 = loadavg()
            with open(result_file) as fh:
                res = json.load(fh)
            t = time.monotonic()
            gates = sorted({o["gate"] for o in res["ops"].values() if o["gate"]} -
                           (set() if a.trace == "1" else TRACED_ONLY_GATES))
            gates_ok = oracle(data, os.path.join(run_dir, "work", "check"), gates, deadline)
            phases["oracle"] = time.monotonic() - t
        finally:
            results = os.path.join(STATE, "results")
            os.makedirs(results, exist_ok=True)
            if os.path.exists(os.path.join(run_dir, "result.json")):
                with open(os.path.join(results, f"{run_id}.spans.jsonl"), "w") as fh:
                    for s in res["spans"]:
                        fh.write(json.dumps(s) + "\n")
            shutil.rmtree(run_dir, ignore_errors=True)
            kept = sorted(os.listdir(results),
                          key=lambda f: os.path.getmtime(os.path.join(results, f)))
            for old in kept[:-KEEP_RESULTS]:
                os.remove(os.path.join(results, old))
    except BenchError as e:
        log(f"error: {e}")
        return 1
    e2e, per_layer, attempted, failed = metrics(res, gates_ok)
    steal = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    flagged = steal > STEAL_FLAG_PCT
    print(f"perfbench {a.workload} seed={a.seed} scale={SCALE[a.workload]:g} "
          f"seconds={a.seconds:g} trace={a.trace} run_id={run_id} "
          f"cpus={len(os.sched_getaffinity(0))} heap={HEAP}")
    print(f"noise: steal_pct={steal:.2f} loadavg_start={load0} loadavg_end={load1} "
          f"flagged={'yes' if flagged else 'no'} (threshold {STEAL_FLAG_PCT}%)")
    print("phases: " + " ".join(f"{k}_s={v:.1f}" for k, v in phases.items()))
    print(f"oracle: " + " ".join(f"{g}={'pass' if ok else 'FAIL'}"
                                 for g, ok in sorted(gates_ok.items())))
    print("iterations: " + " ".join(
        f"it{it['iteration']}{'T' if it['traced'] else ''}={it['wall_s']:.3f}s/{it['cpu_s']:.2f}cpu"
        for it in res["iterations"]))
    for it in res["iterations"]:
        for op, why in it["failures"].items():
            print(f"failure: iteration {it['iteration']} {op}: {why}")
    print(f"error_rate {failed / attempted:.4f} ratio ({failed} failed of {attempted} operations)")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    shown = e2e if a.trace == "0" else per_layer
    for name, (value, n) in sorted(shown.items()):
        print(f"  {name:<44} {value:>16.6g} {units.get(name, ''):<6} n={n}")
    if a.trace == "1":
        first = min(traced_ids(res), default=0)
        print(f"spans of it0 and it{first} ({len(res['spans'])} in all, run {run_id}; "
              f"self_s = wall minus child spans):")
        for s in res["spans"]:
            if s["iteration"] in (0, first):
                print(f"  it{s['iteration']} {s['name']:<22} parent={s['parent']:<4} "
                      f"wall_s={s['wall_s']:.4f} self_s={s['self_s']:.4f} jobs={s['jobs']} "
                      f"cpu_s={s['cpu_s']:.3f} driver_s={s['driver_s']:.3f}")
        print(f"  unattributed jobs: {res['unattributed_jobs']}")
        for s in res["spans"]:
            if s["name"] == "iteration" and s["iteration"] in traced_ids(res):
                kids = [c["wall_s"] for c in res["spans"] if c["parent"] == s["id"]]
                print(f"  it{s['iteration']} wall_s={s['wall_s']:.4f} = {len(kids)} child spans "
                      f"{sum(kids):.4f} + iteration self_s {s['self_s']:.4f}")
    wanted = spec["end_to_end"] if a.trace == "0" else spec["per_layer"]
    out = {m["name"]: {"value": shown.get(m["name"], (0.0, 0))[0], "unit": m["unit"]}
           for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
