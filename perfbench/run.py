#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload catalog_sql --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from the checkout's sources when they
changed (sbt, into .bench_build/), runs one JVM in a fresh directory under
.bench_run/, and removes that directory when the JVM ends. The full result
(every op time, failures, host load, and with --trace 1 the spans) is kept
in .bench_out/. The last line on stdout is the result:

    {"correct": true, "attempted": 42, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones. Correctness mode instead dumps the workload's queries with
graft.Verify and checks them against the DuckDB oracle:

    python3 perfbench/run.py --workload catalog_sql --verify
"""
import argparse
import glob
import hashlib
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_run")
OUT = os.path.join(ROOT, ".bench_out")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected_rows.json")
RUN_LIMIT_S = 170          # a JVM that outlives this is killed and the run fails
BUILD_LIMIT_S = 840
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    engine = os.path.join(ROOT, "src", "main")
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (engine, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    return env


def run_bounded(cmd, limit, **kw):
    """Run cmd in its own process group; kill the group if it outlives limit."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=limit)
        return p.returncode, out
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compile when the sources changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no engine sources (src/main/scala) in this checkout")
    want = stamp()
    stamp_file, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read()
    log("building engine + benchmark")
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, text=True)
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out)
        sys.exit("perfbench: build failed")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(want)
    return lines[-1]


def cpu_times():
    """(busy, steal) CPU seconds of the whole machine so far, from /proc/stat;
    steal is time the hypervisor gave this machine's CPUs to other guests."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]] + [0] * 8
    hz = os.sysconf("SC_CLK_TCK")
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / hz, v[7] / hz


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().split()[:3]


def java(main, args, run_dir, limit):
    work = os.path.join(run_dir, "work")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(work)
    os.makedirs(tmp)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dgraft.bench.work={work}",
        "-cp", build(), main] + args
    # cwd = run dir: the engine resolves some lake paths against the cwd
    code, _ = run_bounded(cmd, limit, cwd=run_dir, stdout=sys.stderr)
    return code


def units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def latest_untraced(workload, seed):
    """The untraced artifact to compare a traced run against: same seed if
    there is one, else the newest of the workload."""
    same = os.path.join(OUT, f"{workload}-s{seed}-t0.json")
    found = [same] if os.path.exists(same) else sorted(
        glob.glob(os.path.join(OUT, f"{workload}-s*-t0.json")), key=os.path.getmtime)
    if not found:
        return None
    with open(found[-1]) as f:
        return json.load(f)


def measure(a):
    run_dir = os.path.join(RUNS, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    result = os.path.join(run_dir, "result.json")
    e2e_units, layer_units = units()
    build()
    t_start = time.time()
    host = {"wall_start": time.strftime("%Y-%m-%dT%H:%M:%S%z"), "loadavg_start": loadavg(),
            "nproc": os.cpu_count()}
    (busy0, steal0), child0 = cpu_times(), resource.getrusage(resource.RUSAGE_CHILDREN)
    try:
        code = java("perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", DATA, "--expected", EXPECTED,
            "--result", result], run_dir, RUN_LIMIT_S)
        res = None
        if code == 0 and os.path.exists(result):
            with open(result) as f:
                res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if res is None:
        sys.exit(f"perfbench: run failed (exit {code})")
    child1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    own = (child1.ru_utime + child1.ru_stime) - (child0.ru_utime + child0.ru_stime)
    busy1, steal1 = cpu_times()
    host.update({"wall_end": time.strftime("%Y-%m-%dT%H:%M:%S%z"), "loadavg_end": loadavg(),
                 "wall_s": time.time() - t_start, "benchmark_cpu_s": own,
                 "other_processes_cpu_s": max(0.0, busy1 - busy0 - own),
                 "steal_cpu_s": steal1 - steal0})
    res["host"] = host
    if a.trace:
        base = latest_untraced(a.workload, a.seed)
        if base:
            res["tracing_overhead"] = {
                k: {"traced": v, "untraced": base["end_to_end"][k], "delta": v - base["end_to_end"][k]}
                for k, v in res["end_to_end"].items() if k in base["end_to_end"]}
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(res, f)
    for fail in res["failures"]:
        log(f"FAIL {fail}")
    log(f"{res['passes']} passes, {res['samples']} op samples, host {host}")
    chosen, source = (layer_units, res["per_layer"]) if a.trace else (e2e_units, res["end_to_end"])
    line = {"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {k: {"value": source[k], "unit": u} for k, u in chosen.items()}}
    print(json.dumps(line))


def verify(a):
    """Dump the workload's queries with graft.Verify and check them against
    the DuckDB oracle; a query with no dump is a failure."""
    import duckdb
    run_dir = os.path.join(RUNS, f"{a.workload}-verify-{os.getpid()}")
    out = os.path.join(run_dir, "verify_out")
    try:
        code = java("perfbench.Dump", [a.workload, DATA, out], run_dir, 600)
        with open(os.path.join(out, "names.txt")) as f:
            names = f.read().split()
        missing = [n for n in names if not os.path.isdir(os.path.join(out, n))]
        check = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                                out, DATA], stdout=subprocess.PIPE, text=True)
        sys.stderr.write(check.stdout)
        failed = missing + [l.split(":")[0].lstrip("✗ ").strip()
                            for l in check.stdout.splitlines() if l.startswith("✗")]
        if a.record_expected:
            # expected row counts come from the oracle, not from Spark
            con = duckdb.connect()
            for t in os.listdir(DATA):
                con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{os.path.join(DATA, t)}')")
            with open(os.path.join(out, "oracle_sql.json")) as f:
                oracle = json.load(f)
            counts = {}
            if os.path.exists(EXPECTED):
                with open(EXPECTED) as f:
                    counts = json.load(f)
            for n in names:
                if n in oracle:
                    counts[n] = len(con.execute(oracle[n]).df())
            with open(EXPECTED, "w") as f:
                json.dump(dict(sorted(counts.items())), f, indent=1)
                f.write("\n")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for n in missing:
        print(f"FAIL {n}: no dump")
    print(f"{a.workload}: {len(names) - len(set(failed))} pass, {len(set(failed))} fail"
          f" of {len(names)} (Dump exit {code})")
    sys.exit(1 if failed or code else 0)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--verify", action="store_true", help="correctness mode (DuckDB oracle)")
    p.add_argument("--record-expected", action="store_true",
                   help="with --verify: store the oracle's row counts in expected_rows.json")
    a = p.parse_args()
    # a terminated run still stops its JVM (run_bounded kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    verify(a) if a.verify else measure(a)


if __name__ == "__main__":
    main()
