#!/usr/bin/env python3
"""The engine's benchmark: one workload per run, end-to-end metrics with
tracing off, per-layer metrics with `--trace 1`.

    python3 perfbench/run.py --workload behavior_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine with the
repository's own sbt build and the harness against it (offline), into
target/ and perfbench/target. The inputs are the engine's reference test
tables, copied into perfbench/data/ (sf0.01, and sf0.001 for smoke runs);
the seed sets the batch query order, and the stream's in-slice row order
and arrival jitter. Each run copies the tables into a fresh private
directory under .perfbench/, runs one JVM there, checks every output,
prints each metric by name and unit, and ends with one JSON line. It
exits non-zero when a check fails. The full record of a run (stamp,
per-query seconds, metrics, failures) is kept in .perfbench/results/, and
a traced run's spans in .perfbench/traces/.

Workloads (why each exists is in BENCHMARK.json):
  behavior_batch    the 52 behaviour/detector/relational queries, closed
                    loop, one client, seeded order, until --seconds pass
  reference_stream  open-loop replay of `events` into four concurrent
                    streaming twins, one 40-event slice a second

Self-tests: python3 perfbench/selftest.py
"""
import argparse
import glob
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
JVM_BUDGET_S = 165

DATA = os.path.join(HERE, "data")
DAY_US = 86400 * 1_000_000

# Scale and shape of each workload. sf names the reference tables' scale
# factor (0.01: 10,000 events over 30 days, 60,000 line items). Both
# workloads are sized so that one run ends within about a minute on a
# 4-core host.
WORKLOADS = {
    "behavior_batch": {"sf": 0.01},
    # one slice every interval after one warm-up slice; at sf0.01 a
    # 40-event slice spans about three hours of event time, so hourly
    # windows, the detector's one-hour watermark and the first one-day
    # window close within a run
    "reference_stream": {"sf": 0.01, "rows_per_slice": 40, "interval_ms": 1000, "warmup": 1},
}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sbt_env():
    """Environment for an offline sbt build."""
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Xmx3g"]))
    return env


def sources():
    pats = [os.path.join(d, "src", "main", "**", "*") for d in (ROOT, HERE)] + [
        os.path.join(d, f) for d in (ROOT, HERE)
        for f in ("build.sbt", os.path.join("project", "*.properties"),
                  os.path.join("project", "*.sbt"))]
    return sorted(f for p in pats for f in glob.glob(p, recursive=True) if os.path.isfile(f))


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def launch_spec():
    """JVM options and classpath the build wrote for the harness."""
    target = os.path.join(HERE, "target")
    with open(os.path.join(target, "jvm-options.txt")) as fh:
        opts = [l for l in fh.read().splitlines() if l]
    with open(os.path.join(target, "classpath.txt")) as fh:
        return opts, fh.read().strip()


def build():
    """Compiles the engine and the harness when their sources changed;
    returns the harness's JVM options, its classpath and the source digest."""
    files = sources()
    digest = source_digest(files)
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        try:
            return launch_spec() + (digest,)
        except OSError:
            pass
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "clean", "launchSpec"],
                       cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"built in {time.time() - t0:.1f} s")
    return launch_spec() + (digest,)


def stream_inputs(data, seed, seconds, cfg):
    """Slices for the open-loop replay: warm-up slices, then timed ones.

    Rows keep event-time order across slices except for a seeded jitter:
    pairs of rows within 5 minutes of a slice boundary swap slices, so some
    events arrive one slice late and others early. Late rows stay less than
    15 minutes behind the newest event seen, below the smallest watermark
    delay of the twins (30 minutes). Rows within a slice are shuffled.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 17])
    r, warm = cfg["rows_per_slice"], cfg["warmup"]
    timed = max(1, int(round(seconds * 1000 / cfg["interval_ms"])))
    n = (warm + timed) * r
    ev = pq.read_table(os.path.join(data, "events.parquet"))
    all_ts = ev.column("ts").cast(pa.int64()).to_numpy()
    # start 18 hours into the first day, so the one-day windows of the HLL
    # twin close early in the run
    first = int(np.searchsorted(all_ts, all_ts[0] // DAY_US * DAY_US + 18 * 3600 * 1_000_000))
    if ev.num_rows - first < n:
        fail(f"{ev.num_rows - first} events cannot fill {warm + timed} slices of {r}")
    ev = ev.slice(first, n)
    ts = ev.column("ts").cast(pa.int64()).to_numpy()
    order = np.arange(n)
    near = 5 * 60 * 1_000_000
    for b in range(r, n, r):
        late = [i for i in range(b - r, b) if ts[order[i]] >= ts[order[b - 1]] - near]
        early = [i for i in range(b, b + r) if ts[order[i]] <= ts[order[b]] + near]
        for i, j in zip(late, early):
            if rng.random() < 0.5:
                order[i], order[j] = order[j], order[i]
    staging = os.path.join(data, "stream", "staging")
    replayed = os.path.join(data, "stream", "replayed")
    os.makedirs(staging)
    os.makedirs(replayed)
    for k in range(warm + timed):
        idx = order[k * r:(k + 1) * r]
        pq.write_table(ev.take(rng.permutation(idx)),
                       os.path.join(staging, f"slice-{k:05d}.parquet"))
    pq.write_table(ev, os.path.join(replayed, "events.parquet"))
    return ["--warmup", str(warm), "--timed", str(timed),
            "--interval-ms", str(cfg["interval_ms"])]


def heap_gb():
    try:
        kb = int(next(l for l in open("/proc/meminfo") if l.startswith("MemTotal")).split()[1])
        return max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def run_jvm(opts, classpath, args, run_dir, deadline):
    """Runs the harness JVM with the engine build's JVM options; the heap
    set here comes last and so overrides the build's. The JVM learns its
    launch time so that `setup_s` covers its start-up too."""
    cmd = (["java"] + opts + [f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={run_dir}/tmp",
                              "-cp", classpath, "graft.perfbench.Main"] + args
           + ["--launched-ms", str(int(time.time() * 1000))])
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=os.path.join(run_dir, "work"), stdout=log,
                         stderr=subprocess.STDOUT, start_new_session=True)

    def stop(*_):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(1)
    # the JVM runs in its own process group: stop it with this process
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        log.close()
    return p.returncode


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", choices=["0.01", "0.001"],
                    help="override the workload's scale factor (a reference table set)")
    a = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src; run from a full checkout")
    if not os.path.isfile(spec_file) or not shutil.which("java") or not shutil.which("sbt"):
        fail("BENCHMARK.json, java and sbt are required")
    spec = json.load(open(spec_file))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    opts, classpath, digest = build()
    t_start = time.time()
    sys.path.insert(0, HERE)
    import oracle

    cfg = dict(WORKLOADS[a.workload])
    sf = float(a.sf) if a.sf is not None else cfg["sf"]
    run_dir = os.path.join(ROOT, ".perfbench", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("work", "tmp", "data"):
        os.makedirs(os.path.join(run_dir, d))
    data = os.path.join(run_dir, "data")
    runner = {}
    try:
        t = time.time()
        for name in oracle.TABLES:
            shutil.copyfile(os.path.join(DATA, f"sf{sf:g}", f"{name}.parquet"),
                            os.path.join(data, f"{name}.parquet"))
        jargs = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--data", data, "--work", os.path.join(run_dir, "work"),
                 "--out", os.path.join(run_dir, "result.json"),
                 "--cpus", str(len(os.sched_getaffinity(0)))]
        if a.workload == "reference_stream":
            jargs += stream_inputs(data, a.seed, a.seconds, cfg)
        if a.trace:
            out = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(out, exist_ok=True)
            jargs += ["--trace-out", os.path.join(out, f"{a.workload}-s{a.seed}.json")]
        runner["inputs_s"] = round(time.time() - t, 2)
        t = time.time()
        rc = run_jvm(opts, classpath, jargs, run_dir, t_start + JVM_BUDGET_S)
        runner["jvm_s"] = round(time.time() - t, 2)
        res_file = os.path.join(run_dir, "result.json")
        if rc is None or not os.path.exists(res_file):
            print(open(os.path.join(run_dir, "jvm.log")).read()[-3000:], file=sys.stderr)
            fail("the benchmark JVM timed out" if rc is None else f"the JVM exited with {rc}", 1)
        res = json.load(open(res_file))
        if not res.get("ok"):
            print(open(os.path.join(run_dir, "jvm.log")).read()[-3000:], file=sys.stderr)
            fail(f"run failed: {res.get('error')}", 1)
        failures = list(res["failures"])
        attempted = res["attempted"]
        if a.workload == "behavior_batch":
            t = time.time()
            names, bad = oracle.check(data, os.path.join(run_dir, "work", "out"))
            runner["oracle_s"] = round(time.time() - t, 2)
            failures += bad
            print(f"oracle: {len(names) - len(bad)}/{len(names)} query results match DuckDB")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    values = res["layers"] if a.trace else res["e2e"]
    metrics, missing = {}, []
    for m in wanted:
        v = values.get(m["name"])
        if v is None:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    failures += [f"metric {n} not measured" for n in missing]
    stamp = dict(res["stamp"], commit=git_commit(), source_sha=digest, sf=sf,
                 samples=res["samples"], runner=runner)
    record = os.path.join(ROOT, ".perfbench", "results", f"{a.workload}-s{a.seed}-t{a.trace}.json")
    os.makedirs(os.path.dirname(record), exist_ok=True)
    with open(record, "w") as fh:
        json.dump(dict(res, stamp=stamp, failures=failures), fh, indent=1, sort_keys=True)
    print("stamp: " + json.dumps(stamp, sort_keys=True))
    print(f"record: {record}")
    if "trace" in res.get("extra", {}):
        tr = res["extra"]["trace"]
        print(f"trace: {tr['spans']} spans in {tr['trace_file']}; self ms by span: "
              + json.dumps(tr["self_ms"], sort_keys=True))
    for f in failures:
        print(f"FAIL {f}")
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": not failures, "attempted": int(attempted),
                      "failed": len(failures), "metrics": metrics}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
