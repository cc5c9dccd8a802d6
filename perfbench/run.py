"""The repo benchmark: one command, three workloads, end to end and by layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: query-small, query-heavy, feed-etl (see perfbench/README.md). The command builds the engine and the bench from the
checkout's sources (`perfbench/build.py`, cached in `.bench_build/`),
generates the input tables (`perfbench/datagen.py`, cached likewise), runs
one JVM with `local[nproc]` and `shuffle.partitions = nproc` in a fresh
temporary working directory, checks every op's output, and prints as its
last stdout line one JSON object: `correct`, `attempted`, `failed` and
`metrics`. With `--trace 0` the metrics are the end-to-end ones; with
`--trace 1` the same passes run again after the untraced ones, in the same
JVM, with the bench's listeners attached, and the metrics are the
per-layer ones from those traced passes, plus `trace.overhead_s`: the
median traced pass time minus the median untraced one.

The line before the last one is a JSON object of run facts: nproc, heap,
source stamp, git commit (when the checkout is a git repository), Spark
version, seed, and the percentile and sample count behind `op_tail_s`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["query-small", "query-heavy", "feed-etl"]
WORK = os.path.join(build.BUILD, "perfbench")
DATA = os.path.join(WORK, "data")
SCALES = {"sf0.001": 0.001, "sf0.1": 0.1}
STREAM_FILES = 3
HEAP = "3g"
# the JVM of one invocation ends within this many seconds
JVM_BUDGET_S = 172


def ensure_data(log=sys.stderr):
    """Generate the input tables once per checkout (same bytes every time),
    plus the time-ordered event files of feed-etl's streaming backfill."""
    import datagen
    with open(os.path.join(HERE, "datagen.py"), "rb") as fh:
        key = f"{hashlib.sha256(fh.read()).hexdigest()}:{sorted(SCALES.items())}:{STREAM_FILES}"
    stamp = os.path.join(DATA, ".stamp")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == key:
                return
    print("[perfbench] generating inputs", file=log, flush=True)
    tmp = DATA + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    for name, sf in SCALES.items():
        datagen.generate(os.path.join(tmp, name), sf)
    split_events(os.path.join(tmp, "sf0.1"), STREAM_FILES)
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(key)
    shutil.rmtree(DATA, ignore_errors=True)
    os.rename(tmp, DATA)


def split_events(sf_dir, n):
    """events.parquet cut into n files of consecutive event time."""
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(sf_dir, "events.parquet")).sort_by("ts")
    out = os.path.join(sf_dir, "stream_events")
    os.makedirs(out)
    step = -(-t.num_rows // n)
    for i in range(n):
        pq.write_table(t.slice(i * step, step), os.path.join(out, f"events_{i:03d}.parquet"))


def git_commit():
    if not os.path.isdir(os.path.join(build.ROOT, ".git")):
        return None
    res = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return res.stdout.strip() or None


def run_jvm(cp, workload, seed, seconds, trace, timeout, log=sys.stderr):
    """One BenchMain run in a fresh working directory; returns its records."""
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    try:
        out = os.path.join(run_dir, "result.jsonl")
        cmd = (["java"] + build.jvm_options() + [f"-Xmx{HEAP}", "-Djava.io.tmpdir=" + run_dir,
               "-Dspark.local.dir=" + os.path.join(run_dir, "spark-local"),
               "-cp", os.pathsep.join(cp), "perfbench.BenchMain",
               "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
               "--trace", "1" if trace else "0", "--root", build.ROOT, "--data", DATA,
               "--work", os.path.join(run_dir, "work"), "--out", out])
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            print(f"[perfbench] {workload}: JVM over its {timeout:.0f}s, killed", file=log)
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        recs = metrics.read_records(out) if os.path.exists(out) else []
        if os.path.exists(out):  # kept for inspection: .bench_build/perfbench/last-<workload>.jsonl
            shutil.copy(out, os.path.join(WORK, f"last-{workload}{'-traced' if trace else ''}.jsonl"))
        if proc.returncode != 0:
            print(f"[perfbench] {workload}: JVM exit code {proc.returncode}", file=log)
            recs = [r for r in recs if r.get("t") != "end"]
        return recs
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def record_expected(workload, recs):
    """Commit a run's digests as the expected ones: per query for the query
    workloads, per read-back target for feed-etl. Only after the outputs
    were compared with the DuckDB oracle (perfbench/README.md)."""
    got = {}
    for r in recs:
        if r.get("t") == "op" and r.get("digest"):
            got.setdefault(r["name"], set()).add(r["digest"])
        elif r.get("t") == "check" and workload == "feed-etl" and not r["name"].startswith("stream:"):
            got.setdefault(r["name"], set()).add(r["digest"])
    unstable = sorted(k for k, v in got.items() if len(v) > 1)
    if unstable:
        raise SystemExit(f"digests differ between passes: {unstable}")
    if not got:
        return
    path = os.path.join(HERE, "expected", f"{workload}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({k: v.pop() for k, v in sorted(got.items())}, fh, indent=1)
        fh.write("\n")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="write this run's output digests to perfbench/expected/")
    a = ap.parse_args(argv)
    try:
        cp, source_stamp = build.build()
        ensure_data()
    except build.BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2
    recs = run_jvm(cp, a.workload, a.seed, a.seconds, trace=bool(a.trace), timeout=JVM_BUDGET_S)
    if a.record:
        record_expected(a.workload, recs)
    attempted, failed, partial, correct = metrics.counts(recs)
    meta = next((r for r in recs if r.get("t") == "meta"), {})
    e2e, info = metrics.end_to_end(metrics.section(recs, traced=False))
    if a.trace:
        values = metrics.per_layer(metrics.section(recs, traced=True),
                                   meta.get("nproc", os.cpu_count()), e2e["total_s"][0])
    else:
        values = e2e
    facts = dict(info, workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                 nproc=meta.get("nproc"), heap_mb=meta.get("heap_mb"), spark=meta.get("spark"),
                 java=meta.get("java"), git_commit=git_commit(), source_stamp=source_stamp[:16],
                 partial=partial)
    print(json.dumps(facts))
    print(metrics.render(values, max(1, attempted), failed if attempted else 1, correct))
    return 0


if __name__ == "__main__":
    sys.exit(main())
