"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The smoke test builds the program and runs every workload on tiny inputs;
it takes a few minutes.
"""
import json
import os
import shutil
import statistics
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(run.tail(range(1, 101)), (90, 90, 100))
        self.assertEqual(run.tail(range(1, 1001)), (99, 990, 1000))

    def test_twenty_samples_give_the_median(self):
        self.assertEqual(run.tail(range(1, 21)), (50, 10, 20))

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(run.tail([5, 1, 3]), (100, 5, 3))
        self.assertEqual(run.tail(range(19)), (100, 18, 19))


def _req(kind, check, error=None):
    return {"kind": kind, "lat_ms": 1.0, "error": error, "check": check}


class FailureCounting(unittest.TestCase):
    g = run.GEOMETRY["tiny"]["pruned_reads"]

    def _read(self, chan, t0, ok=True):
        rows, total = run.expected_read(self.g, run.READS_PLANT, chan, t0, 2)
        return _req("fits", {"chan": chan, "t0": t0, "span": 2, "rows": rows,
                             "vis_re_sum": total + (0 if ok else 1.0)})

    def test_failed_and_wrong_requests_count_against_attempts(self):
        rec = {"setup_passes": [[self._read(0, 0)]], "warm_passes": [],
               "passes": [[self._read(1, 2), self._read(0, 3, ok=False),
                           _req("uvh5", {}, error="boom")]],
               "traced_passes": []}
        attempted, failed, wrong, notes = run.check_record("pruned_reads", rec, self.g,
                                                           None, {})
        self.assertEqual((attempted, failed, wrong), (4, 1, 1))
        self.assertEqual(len(notes), 2)
        self.assertEqual(run.failed_fraction(failed + wrong, attempted, None), 0.5)

    def test_the_default_config_probe_counts_as_one_attempt(self):
        self.assertEqual(run.failed_fraction(0, 9, {"failed": True}), 0.1)
        self.assertEqual(run.failed_fraction(0, 9, {"failed": False}), 0.0)

    def test_flags_digest_must_match_the_planted_set(self):
        g = run.GEOMETRY["tiny"]["gpubox_flags"]
        p = run.planted(3, g)
        good = {"digest": run.flags_digest(run.expected_flags(g, p)),
                "cells": (g["ntimes"] - 1) * g["ncoarse"] * g["nfine"] * g["npols"]}
        bad = dict(good, digest="0")
        rec = {"setup_passes": [], "warm_passes": [],
               "passes": [[_req("chain", good)], [_req("chain", bad)]],
               "traced_passes": []}
        self.assertEqual(run.check_record("gpubox_flags", rec, g, p, {})[:3], (2, 0, 1))


class PlantedFlags(unittest.TestCase):
    def test_every_seed_plants_separated_tone_and_streak(self):
        for name in ("full", "tiny"):
            g = run.GEOMETRY[name]["gpubox_flags"]
            nfreq = g["ncoarse"] * g["nfine"]
            for seed in range(200):
                p = run.planted(seed, g)
                self.assertEqual(p, run.planted(seed, g))
                self.assertTrue(2 <= p["tone_start"] < p["tone_end"] <= g["ntimes"] - 3, p)
                self.assertTrue(1 <= p["streak_time"] - 1 and
                                p["streak_time"] <= g["ntimes"] - 2, p)
                self.assertTrue(p["streak_time"] < p["tone_start"] - 2 or
                                p["streak_time"] > p["tone_end"] + 2, p)
                cells = run.expected_flags(g, p)
                # two tone edges + two whole-band streak rows, per polarisation
                self.assertEqual(len(cells), g["npols"] * (2 + 2 * nfreq))
                self.assertIn((p["tone_start"] - 1, p["tone_freq"], "XX"), cells)
                self.assertIn((p["tone_end"], p["tone_freq"], "XX"), cells)
                self.assertNotIn((p["tone_start"], p["tone_freq"], "XX"), cells)

    def test_seeds_move_the_plant(self):
        g = run.GEOMETRY["full"]["gpubox_flags"]
        digests = {run.flags_digest(run.expected_flags(g, run.planted(s, g)))
                   for s in range(20)}
        self.assertGreater(len(digests), 15)

    def test_read_expectation_is_exact_arithmetic(self):
        g = run.GEOMETRY["tiny"]["pruned_reads"]
        rows, total = run.expected_read(g, run.READS_PLANT, 1, 6, 2)
        self.assertEqual(rows, 2 * 6 * 4 * 2)
        self.assertEqual(total * 64, int(total * 64))


class MetricNames(unittest.TestCase):
    def test_end_to_end_names_are_what_the_run_reports(self):
        rec = {"passes": [[{"lat_ms": 2.0}], [{"lat_ms": 4.0}]], "pass_wall_s": [1.0, 2.0],
               "setup_s": [3.0, 1.0, 2.0], "rows_per_pass": 10, "peak_rss_mb": 5.0}
        metrics, _ = run.end_to_end(rec)
        self.assertEqual({m["name"] for m in SPEC["end_to_end"]}, set(metrics))
        self.assertEqual(metrics["setup_s"][0], 2.0)
        self.assertTrue(all(v > 0 for v, _ in metrics.values()))

    def test_per_layer_names_are_unique_and_each_measured_somewhere(self):
        names = [m["name"] for m in SPEC["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        workloads = [w["name"] for w in SPEC["workloads"]]
        for n in names:
            self.assertTrue(any(n.startswith(run.LAYERS[w]) for w in workloads), n)

    def test_the_per_layer_set_expands_every_query_and_format(self):
        names = {m["name"] for m in SPEC["per_layer"]}
        for q in run.MIX_QUERIES:
            for k in ("wall_s", "task_cpu_s", "shuffle_mb", "spill_mb"):
                self.assertIn("curation.%s.%s" % (q, k), names)
        for f in ("fits", "uvfits", "uvh5"):
            self.assertIn("sources.%s.read_bytes_per_row" % f, names)
            self.assertIn("sources.%s.p50_ms" % f, names)

    def test_a_missing_layer_is_an_error_not_a_zero(self):
        rec = {"layers": {}, "probe": {}}
        with self.assertRaises(run.BenchError):
            run.per_layer("gpubox_flags", rec, [("mwa.diff_s", "s")], 1, 0)
        self.assertEqual(run.per_layer("gpubox_flags", rec, [("curation.x.wall_s", "s")],
                                       1, 0), {"curation.x.wall_s": (0.0, "s")})


def _bench(args, cwd):
    return subprocess.run([sys.executable, "perfbench/run.py"] + args, cwd=cwd,
                          capture_output=True, text=True, timeout=900)


class Refusal(unittest.TestCase):
    def test_without_the_program_it_exits_nonzero_and_prints_no_result(self):
        d = HERE / ".work" / "bare"
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(HERE, d / "perfbench",
                        ignore=shutil.ignore_patterns(".work", ".build", "target",
                                                      "__pycache__"))
        shutil.copy(HERE.parent / "BENCHMARK.json", d)
        try:
            out = _bench(["--workload", "gpubox_flags", "--seed", "1", "--seconds", "1"], d)
            self.assertNotEqual(out.returncode, 0)
            self.assertNotIn('"correct"', out.stdout)
        finally:
            shutil.rmtree(d, ignore_errors=True)


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_SMOKE"), "smoke disabled")
class Smoke(unittest.TestCase):
    """Every workload on tiny inputs, untraced and traced."""

    def _run(self, workload, trace):
        out = _bench(["--workload", workload, "--seed", "7", "--seconds", "1",
                      "--trace", str(trace), "--geometry", "tiny"], HERE.parent)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        res = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], out.stdout[-2000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        return res["metrics"]

    def test_flags_workloads(self):
        for w in ("gpubox_flags", "parquet_flags"):
            m = self._run(w, 0)
            self.assertEqual(set(m), {x["name"] for x in SPEC["end_to_end"]})
        layers = self._run("gpubox_flags", 1)
        self.assertEqual(set(layers), {x["name"] for x in SPEC["per_layer"]})
        self.assertEqual(layers["mwa.default_config_failures"]["value"], 1.0)

    def test_pruned_reads(self):
        self._run("pruned_reads", 0)

    def test_curation_mix(self):
        m = self._run("curation_mix", 0)
        self.assertGreater(m["mix_wall_s"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
