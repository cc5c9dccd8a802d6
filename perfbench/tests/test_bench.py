"""Tests of the benchmark's own arithmetic and result files.

    python3 -m unittest discover -s perfbench/tests -v

The digest and killed-run tests build the bench (perfbench/build.py) and
generate its inputs first if the checkout has neither yet.
"""
import json
import os
import signal
import subprocess
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = metrics.tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_eleven_samples_take_the_smallest(self):
        value, pct, n = metrics.tail([5.0] + [9.0] * 10)
        self.assertEqual((value, n), (5.0, 11))
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_order_does_not_matter(self):
        xs = [0.3, 1.2, 0.1, 0.9, 2.5, 0.4, 0.8, 0.7, 0.2, 0.6, 1.1, 1.0, 0.5]
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))
        self.assertEqual(metrics.tail(xs)[0], 0.3)  # 13 samples: rank 3 of 13

    def test_ten_or_fewer_report_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(metrics.tail([]), (0.0, 0.0, 0))


class SpanSelfTime(unittest.TestCase):
    def test_union_of_overlapping_children(self):
        self.assertEqual(metrics.union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_counts_overlap_once(self):
        # op 0..10, jobs 1..4 and 3..6 overlap: covered 1..6 -> self 5
        self.assertEqual(metrics.self_time((0, 10), [(1, 4), (3, 6)]), 5)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(metrics.self_time((0, 10), [(-5, 2), (9, 20)]), 7)
        self.assertEqual(metrics.self_time((0, 10), [(20, 30)]), 10)

    def test_gap_plus_job_time_is_wall_time(self):
        op, jobs = (100.0, 250.0), [(110.0, 150.0), (140.0, 200.0), (230.0, 260.0)]
        gap = metrics.self_time(op, jobs)
        covered = metrics.union_length([(max(op[0], s), min(op[1], e)) for s, e in jobs])
        self.assertAlmostEqual(gap + covered, op[1] - op[0])


def _records(passes=1, ops_per_pass=3, end=True):
    parts = {"session_create_s": 0.1, "tables_register_s": 0.2, "inputs_s": 0.0, "warmup_s": 0.3}
    recs = [{"t": "meta", "nproc": 4},
            dict(parts, t="setup", i=1, total_s=9.0),
            dict(parts, t="setup", i=2, total_s=1.5),
            dict(parts, t="setup", i=3, total_s=1.0)]
    for p in range(1, passes + 1):
        for i in range(ops_per_pass):
            recs.append({"t": "op", "id": f"p{p}.{i}", "pass": p, "name": f"q{i}",
                         "family": "Relational", "start_ms": 0, "end_ms": 1,
                         "wall_s": 0.1 * (i + 1), "ok": True, "rows": 2,
                         "check": "ok", "digest": "2:0"})
        recs.append({"t": "pass", "pass": p, "wall_s": 0.6, "cpu_s": 1.2, "ops": ops_per_pass,
                     "jvm": {"gc_s": 0, "jit_s": 0, "classes_loaded": 0,
                             "codegen_compile_s": 0}, "files": 0, "stored_mb": 0})
    if end:
        recs.append({"t": "end", "passes": passes, "rss_peak_mb": 100.0})
    return recs


class ResultFile(unittest.TestCase):
    def write(self, recs, cut=0):
        fd, path = tempfile.mkstemp(suffix=".jsonl")
        text = "".join(json.dumps(r) + "\n" for r in recs)
        with os.fdopen(fd, "w") as fh:
            fh.write(text[:len(text) - cut] if cut else text)
        self.addCleanup(os.remove, path)
        return path

    def test_complete_file(self):
        recs = metrics.read_records(self.write(_records()))
        attempted, failed, partial, correct = metrics.counts(recs)
        self.assertEqual((attempted, failed, partial, correct), (3, 0, False, True))
        e2e, info = metrics.end_to_end(recs)
        self.assertEqual(e2e["setup_s"], (1.5, "s"))  # median of three set-ups
        self.assertAlmostEqual(e2e["op_p50_s"][0], 0.2)

    def test_cut_last_line_is_dropped_and_marked_partial(self):
        recs = metrics.read_records(self.write(_records(end=False) + [{"t": "op"}], cut=5))
        self.assertEqual(recs[-1]["t"], "pass")
        attempted, failed, partial, correct = metrics.counts(recs)
        self.assertTrue(partial)
        self.assertFalse(correct)
        line = json.loads(metrics.render(metrics.end_to_end(recs)[0], attempted, failed, correct))
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})

    def test_timings_are_medians_over_passes(self):
        recs = _records(passes=3)
        for p, wall in zip([r for r in recs if r["t"] == "pass"], [0.6, 3.0, 0.5]):
            p["wall_s"] = wall
        e2e, info = metrics.end_to_end(recs)
        self.assertEqual(e2e["total_s"], (0.6, "s"))
        self.assertEqual(e2e["rows_per_s"], (6 / 0.6, "1/s"))  # 3 ops of 2 rows per pass
        self.assertEqual(info["passes"], 3)

    def test_traced_passes_are_kept_apart(self):
        recs = _records(passes=2)
        for r in recs:
            if r["t"] in ("op", "pass") and r["pass"] == 2:
                r["traced"] = True
                r["wall_s"] *= 2
        untraced = metrics.section(recs, traced=False)
        traced = metrics.section(recs, traced=True)
        self.assertEqual({r["pass"] for r in untraced if r["t"] in ("op", "pass")}, {1})
        self.assertEqual({r["pass"] for r in traced if r["t"] in ("op", "pass")}, {2})
        self.assertEqual(len([r for r in traced if r["t"] == "setup"]), 3)
        total = metrics.end_to_end(untraced)[0]["total_s"][0]
        layers = metrics.per_layer(traced, 4, total)
        self.assertAlmostEqual(layers["trace.overhead_s"][0], 0.6)

    def test_mismatch_counts_as_failure(self):
        recs = _records()
        recs[5]["ok"], recs[5]["check"] = False, "mismatch"
        attempted, failed, _, correct = metrics.counts(recs)
        self.assertEqual((attempted, failed, correct), (3, 1, False))


class Jvm(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.cp, _ = build.build()

    def test_digest_ignores_row_order(self):
        res = subprocess.run(["java", "-cp", os.pathsep.join(self.cp), "perfbench.SelfTest"],
                             stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        self.assertEqual(res.returncode, 0, res.stderr)
        self.assertIn("selftest ok", res.stdout)

    def test_killed_run_leaves_a_valid_partial_result(self):
        run.ensure_data()
        with tempfile.TemporaryDirectory(dir=run.WORK) as d:
            out = os.path.join(d, "result.jsonl")
            cmd = (["java"] + build.jvm_options() + ["-Xmx2g", "-Djava.io.tmpdir=" + d,
                   "-cp", os.pathsep.join(self.cp), "perfbench.BenchMain",
                   "--workload", "query-small", "--seed", "7", "--seconds", "600",
                   "--trace", "0", "--root", build.ROOT, "--data", run.DATA,
                   "--work", os.path.join(d, "work"), "--out", out])
            proc = subprocess.Popen(cmd, cwd=d, stdout=subprocess.DEVNULL,
                                    stderr=subprocess.DEVNULL, start_new_session=True)
            try:
                deadline = time.time() + 150
                while time.time() < deadline and proc.poll() is None:
                    if os.path.exists(out) and \
                            sum(1 for r in metrics.read_records(out) if r.get("t") == "op") >= 2:
                        break
                    time.sleep(0.2)
            finally:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            recs = metrics.read_records(out)
            attempted, failed, partial, correct = metrics.counts(recs)
            self.assertTrue(partial)
            self.assertFalse(correct)
            self.assertGreaterEqual(attempted, 2)
            self.assertEqual(failed, 0)
            line = json.loads(metrics.render(metrics.end_to_end(recs)[0], attempted, failed, correct))
            self.assertGreater(line["metrics"]["op_p50_s"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
