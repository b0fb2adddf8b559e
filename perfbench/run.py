#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine at sf0.1.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The script compiles the program from
src/main/scala together with perfbench/Harness.scala (once per source
digest, under .bench_build/), then runs the workload in a fresh JVM at
local[nproc] with spark.sql.shuffle.partitions = nproc. One driver
thread submits the workload's keys one after another (a closed loop
with one client); the seed sets the key order of every pass. Every key's
row count is checked against perfbench/expected_rows.json, the DuckDB
oracle counts.

setup_s runs from the launch of the JVM to the start of the first timed
key: JVM boot, session build and the untimed warm-up keys of the same
pool, run on nproc threads at once. Each run gets its own
java.io.tmpdir, spark.local.dir and warehouse under .bench_run/, removed
afterwards. A run during which other guests of the host took more than
3% of this VM's CPU time (steal time) is measured once more in a fresh
JVM, and the less disturbed attempt is reported. --trace 1 adds a
SparkListener and per-phase job groups and reports the per-layer
metrics; the per-key trace is kept under .bench_out/ for
perfbench/layer_diff.py.

The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""
import argparse
import hashlib
import json
import math
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_run")
OUT = os.path.join(ROOT, ".bench_out")


def _from_file(path, pattern):
    try:
        with open(os.path.join(ROOT, path)) as f:
            m = re.search(pattern, f.read())
        return m and m.group(1)
    except OSError:
        return None


# The Spark jars the program is built against (SPARK_HOME/jars, else the
# directory build.sbt names) and the sf0.1 fixture graft.Bench reads.
SPARK_JARS = (os.path.join(os.environ["SPARK_HOME"], "jars") if "SPARK_HOME" in os.environ
              else _from_file("build.sbt", r'unmanagedBase := file\("([^"]+)"\)'))
FIXTURE = os.environ.get("SPARK_GRAFT_SF_DIR") or _from_file(
    "src/main/scala/graft/Bench.scala", r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"')
XMX = "4g"
# A run's key list is fixed, so its tail is its heaviest keys. The
# percentile that leaves ten samples beyond it needs more keys than a
# 20 s run completes; p90 is reported with the sample count.
TAIL_P = 90
CPUS = len(os.sched_getaffinity(0))
# A run is measured once more in a fresh JVM when other guests of the
# host took more than this share of the VM's CPU time while it ran, and
# the less disturbed attempt is reported. The program cannot cause
# steal; quiet runs see 0.3-1.4%, and two-minute bursts of 12-22% slowed
# whole ten-run sets by a third. One repeat at most, and only while the
# run still ends within RUN_LIMIT_S, after which a JVM is killed.
MAX_STEAL = 0.03
RUN_LIMIT_S = 170

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    # A fixed heap and young generation keep G1 from resizing on its
    # pause-time heuristics, which made peak RSS vary by a quarter
    # between runs of identical work.
    f"-Xms{XMX}", f"-Xmx{XMX}", "-Xmn512m"]
# glibc's per-thread malloc arenas make the JVM's native footprint, and
# so peak RSS, depend on thread scheduling.
JVM_ENV = dict(os.environ, MALLOC_ARENA_MAX="2")

_children = set()


def _on_signal(signum, frame):
    """Stop the JVM this run started; `finally` blocks then clean up."""
    for pid in list(_children):
        try:
            os.killpg(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass
    raise SystemExit(128 + signum)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def sources():
    if not SPARK_JARS or not os.path.isdir(SPARK_JARS):
        fail("no Spark jar directory; set SPARK_HOME")
    if not os.path.isdir(SRC):
        fail(f"no program sources under {SRC}; run from the repository root")
    out = []
    for d, _, files in os.walk(SRC):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def scalac(dest, cp, files):
    os.makedirs(dest)
    argfile = dest + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*",
         "scala.tools.nsc.Main", "-nowarn", "-d", dest, "-classpath", cp,
         "@" + argfile], capture_output=True, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        print(r.stdout[-4000:] + r.stderr[-4000:], file=sys.stderr)
        fail("compilation failed")


def build():
    """Compile program and harness once per source digest; returns the dir."""
    src = sources()
    harness = os.path.join(HERE, "Harness.scala")
    h = hashlib.sha256()
    for p in src + [harness]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    dest = os.path.join(BUILD, "graft-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(dest, "ok")):
        return dest
    tmp = os.path.join(BUILD, f"tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    scalac(os.path.join(tmp, "classes"), f"{SPARK_JARS}/*", src)
    scalac(os.path.join(tmp, "harness"),
           os.path.join(tmp, "classes") + f":{SPARK_JARS}/*", [harness])
    open(os.path.join(tmp, "ok"), "w").close()
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    return dest


def classpath(dest):
    return f"{dest}/harness:{dest}/classes:{SPARK_JARS}/*"


def dump_oracles(dest):
    path = os.path.join(BUILD, f"oracles-{os.getpid()}.json")
    subprocess.run(["java", *JAVA_OPTS, "-cp", classpath(dest),
                    "perfbench.Harness", "oracles", path],
                   check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(path) as f:
        d = json.load(f)
    os.remove(path)
    return d


# ------------------------------------------------------------------ run

def launch(dest, run_dir, keys, warmup, trace, deadline):
    """One fresh JVM, killed at the monotonic time `deadline`. Returns
    (harness output, launch time, peak RSS MB)."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    keys_file, warmup_file, out_file, log_file = (
        os.path.join(run_dir, n) for n in ("keys", "warmup", "out.json", "jvm.log"))
    with open(keys_file, "w") as f:
        f.write("\n".join(keys) + "\n")
    with open(warmup_file, "w") as f:
        f.write("\n".join(warmup) + "\n")
    cmd = ["java", *JAVA_OPTS,
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dspark.local.dir={run_dir}/local",
           f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
           f"-Dderby.system.home={run_dir}",
           "-cp", classpath(dest), "perfbench.Harness", "run", FIXTURE,
           keys_file, warmup_file, str(CPUS), "1" if trace else "0",
           out_file]
    with open(log_file, "w") as log:
        t_launch = time.time()
        p = subprocess.Popen(cmd, cwd=run_dir, env=JVM_ENV, stdin=subprocess.DEVNULL,
                             stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        _children.add(p.pid)
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.monotonic() > deadline:
                os.killpg(p.pid, signal.SIGKILL)
                os.wait4(p.pid, 0)
                _children.discard(p.pid)
                with open(log_file) as f:
                    sys.stderr.write(f.read()[-4000:])
                fail(f"JVM ran past the run's {RUN_LIMIT_S} s")
            time.sleep(0.02)
    _children.discard(p.pid)
    p.returncode = os.waitstatus_to_exitcode(status)
    try:  # anything the JVM left in its process group
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    if p.returncode != 0 or not os.path.exists(out_file):
        with open(log_file) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited with {p.returncode}")
    with open(out_file) as f:
        return json.load(f), t_launch, ru.ru_maxrss / 1024.0


def steal_and_total():
    """Cumulative steal and total CPU ticks of the machine: steal is time
    the hypervisor gave this VM's CPUs to other guests. (0, 0) without
    /proc/stat."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
        return ticks[7], sum(ticks)
    except (OSError, ValueError, IndexError):
        return 0, 0


def check(keys, expected, spec, ivf_bytes):
    """What is wrong with one run's results: errors, row counts other
    than the oracle's, and a missing shared IVF index build."""
    problems = []
    for k in keys:
        if k["error"]:
            problems.append(f"{k['key']}: {k['error']}")
        elif k["rows"] != expected.get(k["key"]):
            problems.append(f"{k['key']}: {k['rows']} rows, expected {expected.get(k['key'])}")
    if spec.get("lifecycle") and ivf_bytes == 0:
        problems.append("shared IVF index was not written in this run")
    return problems


def sweep_stale_runs():
    """Remove run directories whose benchmark process no longer exists."""
    for d in os.listdir(RUNS) if os.path.isdir(RUNS) else []:
        pid = d.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(RUNS, d), ignore_errors=True)


def tree_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except FileNotFoundError:
                pass
    return total


def _betai(a, b, x):
    """Regularized incomplete beta function I_x(a, b) by Lentz's continued fraction."""
    if x <= 0.0 or x >= 1.0:
        return min(1.0, max(0.0, x))
    if x > (a + 1) / (a + b + 2):
        return 1.0 - _betai(b, a, 1.0 - x)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x)) / a
    f, c, d = 1.0, 1.0, 0.0
    for i in range(400):
        m = i // 2
        if i == 0:
            num = 1.0
        elif i % 2 == 0:
            num = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        else:
            num = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))
        d = 1.0 + num * d
        d = 1.0 / (d if abs(d) > 1e-300 else 1e-300)
        c = 1.0 + num / c
        c = c if abs(c) > 1e-300 else 1e-300
        f *= c * d
        if abs(1.0 - c * d) < 1e-12:
            break
    return front * (f - 1.0)


def quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted mean of all
    order statistics. A run has 10 to 27 keys, and a single order statistic
    of so few jumps from key to key between runs."""
    xs = sorted(xs)
    n = len(xs)
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    cdf = [_betai(a, b, i / n) for i in range(n + 1)]
    return sum(x * (cdf[i + 1] - cdf[i]) for i, x in enumerate(xs))


# Per-layer metrics of a traced run: (name, unit, how to get it from one
# key execution). Phase sums come from the harness's spans and the
# listener's per-(key, phase) counters.
def _ph(phase, field):
    return lambda k, lay: lay.get(phase, {}).get(field, 0.0)


def _all(field):
    return lambda k, lay: sum(v.get(field, 0.0) for v in lay.values())


LAYER_SUMS = [
    ("ops.build_s", "s", lambda k, lay: k["phases"].get("build", 0.0)),
    ("ops.eager_jobs", "count", _ph("build", "jobs")),
    ("ops.eager_task_s", "s", _ph("build", "task_run_s")),
    ("plan.s", "s", lambda k, lay: k["phases"].get("plan", 0.0)),
    ("plan.analysis_s", "s", lambda k, lay: k["phases"].get("tracker.analysis", 0.0)),
    ("plan.optimization_s", "s", lambda k, lay: k["phases"].get("tracker.optimization", 0.0)),
    ("plan.planning_s", "s", lambda k, lay: k["phases"].get("tracker.planning", 0.0)),
    ("exec.s", "s", lambda k, lay: k["phases"].get("exec", 0.0)),
    ("exec.jobs", "count", _ph("exec", "jobs")),
    ("exec.stages", "count", _ph("exec", "stages")),
    ("exec.tasks", "count", _ph("exec", "tasks")),
    ("exec.task_run_s", "s", _ph("exec", "task_run_s")),
    ("exec.task_cpu_s", "s", _ph("exec", "task_cpu_s")),
    ("exec.gc_s", "s", _ph("exec", "gc_s")),
    ("exec.failed_tasks", "count", _ph("exec", "failed_tasks")),
    ("exec.spill_bytes", "bytes", _ph("exec", "spill_bytes")),
    ("shuffle.read_bytes", "bytes", _all("shuffle_read_bytes")),
    ("shuffle.write_bytes", "bytes", _all("shuffle_write_bytes")),
    ("scan.bytes", "bytes", _all("scan_bytes")),
    ("scan.rows", "count", _all("scan_rows")),
    ("write.bytes", "bytes", _all("write_bytes")),
    ("write.rows", "count", _all("write_rows")),
]


def layer_metrics(res, keys):
    """Per-key and summed per-layer metrics of one traced JVM run."""
    per_key = []
    for i, k in enumerate(keys):
        lay = res["layers"].get(str(i), {})
        row = {name: float(get(k, lay)) for name, _, get in LAYER_SUMS}
        ex = lay.get("exec", {})
        row["exec.empty_tasks"] = ex.get("empty_tasks", 0.0)
        per_key.append({"key": k["key"], "metrics": row})
    tot = {name: sum(p["metrics"][name] for p in per_key) for name, _, _ in LAYER_SUMS}
    units = {name: unit for name, unit, _ in LAYER_SUMS}
    tot["exec.empty_task_share"] = (
        sum(p["metrics"]["exec.empty_tasks"] for p in per_key) / tot["exec.tasks"]
        if tot["exec.tasks"] else 0.0)
    units["exec.empty_task_share"] = "ratio"
    tot["exec.slot_use"] = (tot["exec.task_run_s"] / (tot["exec.s"] * CPUS)
                            if tot["exec.s"] else 0.0)
    units["exec.slot_use"] = "ratio"
    tot["session.start_s"] = (res["session_ms"] - res["jvm_start_ms"]) / 1e3
    tot["session.warmup_s"] = (res["ready_ms"] - res["session_ms"]) / 1e3
    units["session.start_s"] = units["session.warmup_s"] = "s"
    return tot, units, per_key


def spans_with_self_time(spans):
    kids = {}
    for s in spans:
        if s["parent"]:
            kids[(s["key"], s["parent"])] = kids.get((s["key"], s["parent"]), 0.0) + s["s"]
    for s in spans:
        s["self_s"] = s["s"] - kids.get((s["key"], s["name"]), 0.0)
    return spans


def workload_keys(spec, seed, seconds):
    """The run's key order: the seed shuffles each pass; a pass runs the
    workload's list once, and --seconds sets how many passes fit. The
    keys of the shared IVF index's lifecycle keep their lifecycle order
    in the places the shuffle gave them, so the first of them always
    carries the index build."""
    keys = list(spec["keys"])
    lifecycle = spec.get("lifecycle", [])
    passes = max(1, round(seconds / spec["ref_s"]))
    rng = random.Random(seed)
    order = []
    for _ in range(passes):
        rng.shuffle(keys)
        stages = iter(lifecycle)
        order += [next(stages) if k in lifecycle else k for k in keys]
    return order


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="target measuring time; sized by the workload's key list")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _on_signal)

    workloads = load("workloads.json")
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; one of {sorted(workloads)}")
    spec = workloads[a.workload]
    expected = load("expected_rows.json")
    dest = build()
    if not FIXTURE or not os.path.isdir(FIXTURE):
        fail(f"fixture directory {FIXTURE} not found; set SPARK_GRAFT_SF_DIR")

    order = workload_keys(spec, a.seed, a.seconds)
    sweep_stale_runs()
    run_dir = os.path.join(RUNS, f"{a.workload}-{os.getpid()}")
    started = time.monotonic()
    kept = None
    for attempt in (1, 2):
        steal0, cpu0 = steal_and_total()
        t_attempt = time.monotonic()
        try:
            res, t0, rss = launch(dest, run_dir, order, spec["warmup"], bool(a.trace),
                                  started + RUN_LIMIT_S)
            setup_s = res["ready_ms"] / 1e3 - t0
            ivf_bytes = tree_bytes(os.path.join(run_dir, "tmp", "graft_ivf_shared"))
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        steal1, cpu1 = steal_and_total()
        steal = (steal1 - steal0) / (cpu1 - cpu0) if cpu1 > cpu0 else 0.0
        problems = check(res["keys"], expected, spec, ivf_bytes)
        # A wrong result is always the one reported; otherwise the
        # attempt the host disturbed least.
        if problems or kept is None or steal < kept[-1]:
            kept = (res, setup_s, rss, ivf_bytes, problems, steal)
        now = time.monotonic()
        if (attempt == 2 or problems or steal <= MAX_STEAL
                or now - started + 1.5 * (now - t_attempt) > RUN_LIMIT_S):
            break
        print(f"attempt {attempt}: {steal:.1%} of CPU time stolen; measuring again",
              file=sys.stderr)
    res, setup_s, rss, ivf_bytes, problems, steal = kept
    keys = res["keys"]
    failed = sum(1 for k in keys if k["error"] or k["rows"] != expected.get(k["key"]))
    if a.trace:
        tot, units, per_key = layer_metrics(res, keys)
        if spec.get("lifecycle") and sum(p["metrics"]["write.bytes"] for p in per_key
                                         if p["key"] in spec["lifecycle"]) <= 0:
            problems.append("IVF lifecycle keys wrote no bytes")
    lat = [k["s"] for k in keys]
    window_s = (res["end_ms"] - res["ready_ms"]) / 1e3
    e2e = {
        "setup_s": (setup_s, "s"),
        "queries_per_s": (len(keys) / window_s, "1/s"),
        "latency_p50_s": (quantile(lat, 0.5), "s"),
        "latency_tail_s": (quantile(lat, TAIL_P / 100), "s"),
        "failed_frac": (failed / len(keys), "fraction"),
        "peak_rss_mb": (rss, "MB"),
    }
    for k in keys:
        print(f"key {k['key']} {k['s']:.4f} s rows={k['rows']}")
    for p in problems:
        print(f"FAILED {p}")
    print(f"{a.workload} seed={a.seed} trace={a.trace} keys={len(keys)} "
          f"local[{CPUS}] tail=p{TAIL_P} of {len(lat)} "
          f"ivf_bytes={ivf_bytes} attempts={attempt} steal={steal:.2%}")
    print(" ".join(f"{n}={v:.6g} {u}" for n, (v, u) in e2e.items()))

    if a.trace:
        tot["traced.queries_per_s"] = e2e["queries_per_s"][0]
        units["traced.queries_per_s"] = "1/s"
        os.makedirs(OUT, exist_ok=True)
        trace_path = os.path.join(
            OUT, f"trace-{a.workload}-seed{a.seed}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "cpus": CPUS,
                       "spark_version": res["spark_version"],
                       "end_to_end": {n: v for n, (v, _) in e2e.items()},
                       "totals": tot, "units": units,
                       "keys": [dict(p, s=k["s"], rows=k["rows"], error=k["error"])
                                for p, k in zip(per_key, keys)],
                       "unattributed": res["unattributed"],
                       "spans": spans_with_self_time(res["spans"])}, f, indent=1)
        print(f"trace written to {os.path.relpath(trace_path, ROOT)}")
        metrics = {n: {"value": v, "unit": units[n]} for n, v in sorted(tot.items())}
    else:
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in e2e.items()
                   if n != "failed_frac"}
    print(json.dumps({"correct": not problems, "attempted": len(keys),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
