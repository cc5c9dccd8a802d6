"""Arithmetic of the benchmark: reading a result file, the tail-percentile
rule, span self time, and the end-to-end and per-layer metrics.

A result file is JSON lines written by `perfbench.BenchMain`, one record
per set-up, op, pass, check and (traced runs) span or counter set. A run
that was killed leaves a file whose last line may be cut; `read_records`
drops that line and the summary marks the result `partial`.
"""
import json
import statistics

FAMILIES = ["Relational", "Windows", "Scalars", "TextVec", "ScaleOps", "Analytics"]
MB = "MB"


def read_records(path):
    """Records of a result file; a cut last line (killed run) is dropped."""
    out = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            try:
                out.append(json.loads(line))
            except ValueError:
                break
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(value, percentile, n): the highest nearest-rank percentile that has
    at least ten samples above its rank. With ten or fewer samples there is
    no such percentile and the maximum is reported as the 100th."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return s[-1], 100.0, n
    k = n - 11  # 0-based rank with exactly ten samples beyond it
    return s[k], 100.0 * (k + 1) / n, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def _of(recs, kind):
    return [r for r in recs if r.get("t") == kind]


def section(recs, traced):
    """A run's untraced or traced passes (a traced run makes both, the
    untraced ones first) with the records of the whole run."""
    return [r for r in recs
            if r.get("t") not in ("op", "check", "pass") or bool(r.get("traced")) == traced]


def counts(recs):
    """(attempted, failed, partial, correct) of one result file."""
    ops = _of(recs, "op")
    checks = _of(recs, "check")
    attempted = len(ops)
    failed = sum(1 for r in ops if not r["ok"]) + sum(1 for c in checks if c["verdict"] != "ok")
    partial = not _of(recs, "end")
    checked = [r.get("check") for r in ops if r.get("family") not in ("feed", "stream")]
    all_checked = all(c == "ok" for c in checked) and all(c["verdict"] == "ok" for c in checks)
    correct = (not partial and failed == 0 and attempted > 0 and all_checked
               and bool(_of(recs, "pass")))
    return attempted, failed, partial, correct


def end_to_end(recs):
    setups = [r["total_s"] for r in _of(recs, "setup")]
    passes = _of(recs, "pass")
    ops = _of(recs, "op")
    walls = [r["wall_s"] for r in ops]
    t_val, t_pct, t_n = tail(walls)
    rows = {}
    for r in ops:
        rows[r["pass"]] = rows.get(r["pass"], 0) + (r.get("rows") or 0)
    rates = [rows.get(p["pass"], 0) / p["wall_s"] for p in passes if p["wall_s"] > 0]
    attempted, failed, _, _ = counts(recs)
    metrics = {
        "setup_s": (median(setups), "s"),
        "total_s": (median([p["wall_s"] for p in passes]), "s"),
        "cpu_s": (median([p["cpu_s"] for p in passes]), "s"),
        "op_p50_s": (median(walls), "s"),
        "op_tail_s": (t_val, "s"),
        "rows_per_s": (median(rates), "1/s"),
    }
    info = {"op_tail_percentile": t_pct, "op_tail_n": t_n, "passes": len(passes),
            "fail_frac": failed / attempted if attempted else 0.0}
    return metrics, info


def _assign_qes(qes, ops):
    """QueryExecution spans carry no op id: give each to the op whose
    interval holds its midpoint; QEs of untimed checks fall outside."""
    spans = sorted((o["start_ms"], o["end_ms"], o["id"]) for o in ops)
    out = {}
    for q in qes:
        mid = (q["start_ms"] + q["end_ms"]) / 2
        for s, e, oid in spans:
            if s <= mid <= e:
                out.setdefault(oid, []).append(q)
                break
    return out


def per_layer(recs, nproc, untraced_total_s):
    """Per-layer metrics of the traced passes of a result file (`section`),
    per pass; `untraced_total_s` is the run's untraced `total_s`."""
    passes = _of(recs, "pass")
    n_pass = max(1, len(passes))
    ops = _of(recs, "op")
    op_ids = {o["id"] for o in ops}
    setups = _of(recs, "setup")
    # a streaming query's jobs carry its run id as their job group
    alias = {o["run_id"]: o["id"] for o in ops if o.get("run_id")}
    spans = [dict(s, parent=alias.get(s["parent"], s["parent"])) for s in _of(recs, "span")]
    opx = {}
    for r in _of(recs, "opx"):
        op = alias.get(r["op"], r["op"])
        if op in op_ids:
            c = opx.setdefault(op, {})
            for k, v in r["c"].items():
                c[k] = max(c.get(k, 0.0), v) if k == "peak_mem_mb" else c.get(k, 0.0) + v
    m = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    for key, name in [("session_create_s", "session.create_s"), ("tables_register_s", "tables.register_s"),
                      ("inputs_s", "setup.inputs_s"), ("warmup_s", "setup.warmup_s")]:
        put(name, median([s[key] for s in setups]), "s")
    put("setup.cold_s", setups[0]["total_s"] if setups else 0.0, "s")
    put("setup.warm_pass_s", sum(w["wall_s"] for w in _of(recs, "warmup")), "s")

    # queries and plans: the QueryExecutions that ran inside the ops
    qes = [s for s in spans if s["kind"] == "qe"]
    by_op = _assign_qes(qes, ops)
    mine = [q for qs in by_op.values() for q in qs]
    phase = {}
    for s in spans:
        if s["kind"] == "phase":
            phase.setdefault(s["parent"], {})[s["name"]] = (s["end_ms"] - s["start_ms"]) / 1000.0
    put("queries.build_s", sum(o.get("build_s", 0.0) for o in ops) / n_pass, "s")
    for p in ("analysis", "optimization", "planning"):
        put(f"queries.{p}_s", sum(phase.get(q["id"], {}).get(p, 0.0) for q in mine) / n_pass, "s")
    put("queries.qe_count", len(mine) / n_pass, "count")
    qex = {r["qe"]: r for r in _of(recs, "qex")}
    inv = sum(qex[q["id"]]["rule_invocations"] for q in mine if q["id"] in qex)
    eff = sum(qex[q["id"]]["rule_effective"] for q in mine if q["id"] in qex)
    put("plans.rule_s", sum(qex[q["id"]]["rule_s"] for q in mine if q["id"] in qex) / n_pass, "s")
    put("plans.rule_effective_ratio", eff / inv if inv else 0.0, "ratio")
    put("plans.srp_rewrite_s", sum(qex[q["id"]]["srp_rewrite_s"] for q in mine if q["id"] in qex) / n_pass, "s")

    jvm = [p["jvm"] for p in passes]
    put("codegen.compile_s", sum(j["codegen_compile_s"] for j in jvm) / n_pass, "s")
    put("jvm.jit_s", sum(j["jit_s"] for j in jvm) / n_pass, "s")
    put("jvm.classes_loaded", sum(j["classes_loaded"] for j in jvm) / n_pass, "count")
    put("jvm.gc_s", sum(j["gc_s"] for j in jvm) / n_pass, "s")

    def total(key):
        return sum(c.get(key, 0.0) for c in opx.values())

    for key in ("jobs", "stages", "tasks", "tasks_failed", "stages_retried"):
        put(f"sched.{key}", total(key) / n_pass, "count")
    jobs = {}
    for s in spans:
        if s["kind"] == "job" and s["parent"] in op_ids:
            jobs.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    gap = sum(self_time((o["start_ms"], o["end_ms"]), jobs.get(o["id"], [])) for o in ops) / 1000.0
    put("sched.driver_gap_s", gap / n_pass, "s")
    put("sched.task_overhead_s", total("task_overhead_s") / n_pass, "s")

    pass_time = sum(p["wall_s"] for p in passes)
    put("exec.task_run_s", total("task_run_s") / n_pass, "s")
    put("exec.task_cpu_s", total("task_cpu_s") / n_pass, "s")
    put("exec.task_gc_s", total("task_gc_s") / n_pass, "s")
    put("exec.peak_mem_mb", max([c.get("peak_mem_mb", 0.0) for c in opx.values()] or [0.0]), MB)
    put("exec.slot_util", total("task_run_s") / (pass_time * nproc) if pass_time else 0.0, "ratio")
    for fam in FAMILIES:
        fam_ops = [o for o in ops if o.get("family") == fam]
        put(f"exec.task_cpu_s.{fam}",
            sum(opx.get(o["id"], {}).get("task_cpu_s", 0.0) for o in fam_ops) / n_pass, "s")
        put(f"exec.op_wall_s.{fam}", sum(o["wall_s"] for o in fam_ops) / n_pass, "s")

    put("shuffle.write_mb", total("shuffle_write_mb") / n_pass, MB)
    put("shuffle.read_mb", total("shuffle_read_mb") / n_pass, MB)
    put("shuffle.fetch_wait_s", total("fetch_wait_s") / n_pass, "s")
    put("shuffle.spill_mem_mb", total("spill_mem_mb") / n_pass, MB)
    put("shuffle.spill_disk_mb", total("spill_disk_mb") / n_pass, MB)
    put("sources.read_mb", total("read_mb") / n_pass, MB)
    put("sources.rows_read", total("rows_read") / n_pass, "count")

    feeds = [o for o in ops if o.get("family") == "feed"]
    put("pipeline.parse_s", sum(o.get("parse_s", 0.0) for o in feeds) / n_pass, "s")
    put("pipeline.run_s", sum(o.get("run_s", 0.0) for o in feeds) / n_pass, "s")
    put("pipeline.loads", sum(o.get("loads", 0) for o in feeds) / n_pass, "count")
    put("pipeline.load_attempts", sum(o.get("load_attempts", 0) for o in feeds) / n_pass, "count")
    put("pipeline.rows_landed", sum(o.get("rows") or 0 for o in feeds) / n_pass, "count")
    write_mb = total("write_mb") / n_pass
    stored_mb = passes[-1]["stored_mb"] if passes else 0.0
    put("sinks.write_mb", write_mb, MB)
    put("sinks.files", passes[-1]["files"] if passes else 0, "count")
    put("sinks.stored_mb", stored_mb, MB)
    put("sinks.write_amp", write_mb / stored_mb if stored_mb else 0.0, "ratio")
    put("sinks.commit_s", commit_time(spans, ops) / n_pass, "s")

    prog = _of(recs, "progress")

    def dur(key):
        return sum(p["d"].get(key, 0.0) for p in prog) / n_pass

    put("streaming.batches", len(prog) / n_pass, "count")
    put("streaming.rows_in", sum(p["rows_in"] for p in prog) / n_pass, "count")
    put("streaming.trigger_s", dur("triggerExecution"), "s")
    put("streaming.add_batch_s", dur("addBatch"), "s")
    put("streaming.plan_s", dur("queryPlanning"), "s")
    put("streaming.wal_s", dur("walCommit") + dur("commitOffsets"), "s")
    put("streaming.state_rows", max([p["state_rows"] for p in prog] or [0]), "count")
    put("streaming.state_commit_s", sum(p["state_commit_s"] for p in prog) / n_pass, "s")

    end = _of(recs, "end")
    put("rss_peak_mb", end[0]["rss_peak_mb"] if end else 0.0, MB)
    attempted, failed, _, _ = counts(recs)
    put("fail_frac", failed / attempted if attempted else 0.0, "ratio")
    traced_total = median([p["wall_s"] for p in passes])
    put("trace.overhead_s", traced_total - untraced_total_s, "s")
    return m


def commit_time(spans, ops):
    """Driver time after each write job's last task, until the op's next
    job starts or the op ends."""
    end_of = {o["id"]: o["end_ms"] for o in ops}
    starts = {}
    for s in spans:
        if s["kind"] == "job":
            starts.setdefault(s["parent"], []).append(s["start_ms"])
    total = 0.0
    for w in spans:
        op = w["parent"]
        if w["kind"] != "write" or op not in end_of:
            continue
        later = [t for t in starts.get(op, []) if t >= w["end_ms"]]
        nxt = min(later) if later else end_of[op]
        total += max(0.0, nxt - w["start_ms"])
    return total / 1000.0


def render(metrics, attempted, failed, correct):
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}})
