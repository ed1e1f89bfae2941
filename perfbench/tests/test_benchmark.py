"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests

The generator and failure tests start the JVM (building it first if the
build directory has no current build), so the suite takes a few minutes.
"""
import hashlib
import json
import os
import struct
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import checks  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def scratch():
    d = os.path.join(run.build_dir(), "test-scratch")
    os.makedirs(d, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=d)


def tree_digest(d):
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(d)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def png_header(w, h):
    return b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + struct.pack(">II", w, h)


def webp_header(w, h):
    vp8x = b"VP8X" + (10).to_bytes(4, "little") + b"\0\0\0\0" + \
        (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little")
    return b"RIFF" + (4 + len(vp8x)).to_bytes(4, "little") + b"WEBP" + vp8x


class GeneratorTest(unittest.TestCase):
    def test_file_inputs_same_seed_same_bytes(self):
        classpath = build.build(run.build_dir())
        with scratch() as d:
            for name, seed in (("a", 5), ("b", 5), ("c", 6)):
                subprocess.run(["java", "-XX:-UsePerfData", "-cp", classpath, "perfbench.Main", "gen",
                                "--seed", str(seed), "--work", os.path.join(d, name)],
                               check=True, capture_output=True)
            a, b, c = (tree_digest(os.path.join(d, n)) for n in "abc")
            self.assertEqual(a, b)
            self.assertNotEqual(a, c)


class FilePrepModelTest(unittest.TestCase):
    """A case small enough to check by hand (tile 128, overlap 0.25, so the
    grid step is 96)."""

    def test_hand_checked_case(self):
        with scratch() as d:
            os.makedirs(os.path.join(d, "images"))
            os.makedirs(os.path.join(d, "texts"))
            files = {"images/a.png": png_header(320, 224),
                     "images/b.png": png_header(200, 150),
                     "images/bad_0.webp": webp_header(224, 224),
                     "texts/t2.txt": b"y\nz\n", "texts/t1.txt": b"x\n",
                     "lines.txt": b"a\nb\na\nc\nb\na\n"}
            for n, data in files.items():
                with open(os.path.join(d, n), "wb") as fh:
                    fh.write(data)
            p = {"tile": 128, "overlap": 0.25, "caption": "cap", "lines_per_file": 4}
            exp = checks.model_file_prep(d, p)

        # a.png 320x224 is a perfect grid: 3 x 2 tiles of 128 x 128
        a_tiles = {f"a_tile_{i}_{j}.png" for i in range(3) for j in range(2)}
        # b.png 200x150: 2 x 1 tiles, the second one ragged (96..200)
        b_tiles = {"b_tile_0_0.png", "b_tile_1_0.png"}
        pngs = {n for n in exp["tile"] if n.endswith(".png")}
        self.assertEqual(pngs, a_tiles | b_tiles)
        self.assertEqual(exp["tile"]["a_tile_2_1.txt"], b"cap")
        self.assertIsNone(exp["tile"]["a_tile_2_1.png"](png_header(128, 128)))
        self.assertIsNone(exp["tile"]["b_tile_1_0.png"](png_header(104, 128)))
        self.assertIsNotNone(exp["tile"]["b_tile_1_0.png"](png_header(128, 128)))

        # prepare: a.png and the (compatible) header-only webp pass through;
        # b.png gets a 128 x 128 center crop and its advice file
        self.assertEqual(set(exp["prepare"]),
                         {"a.png", "bad_0.webp", "b_cropped.png", "b.txt"})
        self.assertEqual(exp["prepare"]["b.txt"],
                         b"Recommended crop size: 128 x 128\nCrop from the center to keep "
                         b"the subject.\nThen re-run the compatibility filter.")
        self.assertEqual(set(exp["convert"]), {"a.jpg", "b.jpg"})

        self.assertEqual(exp["merge"], {"merged_output.txt": b"x\n\n\ny\nz\n"})
        self.assertEqual(exp["dedup"], {"lines_purged.txt": b"a\nb\nc\n"})
        # 6 lines, 2 records per file: an exact fill, so a 4th empty file
        self.assertEqual(exp["split"], {"split_1.txt": b"a\n\nb\n\n",
                                        "split_2.txt": b"a\n\nc\n\n",
                                        "split_3.txt": b"b\n\na\n\n",
                                        "split_4.txt": b""})


class MetricsTest(unittest.TestCase):
    def spec(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            return json.load(fh)

    def test_metric_names(self):
        spec = self.spec()
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        for n in names + [w["name"] for w in spec["workloads"]]:
            self.assertRegex(n, metrics.NAME)
        self.assertEqual(len(names), len(set(names)))
        self.assertEqual([m["name"] for m in spec["end_to_end"]],
                         [n for n, _, _ in metrics.END_TO_END])
        self.assertEqual([m["name"] for m in spec["per_layer"]],
                         [n for n, _ in metrics.PER_LAYER])
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         list(metrics.WORKLOAD_JOBS))

    def test_failed_call_is_counted_not_timed(self):
        def call(name, s, ok=True):
            return {"name": name, "s": s, "ok": ok, "error": None if ok else "boom"}
        rec = {"setup_s": [3.0, 2.0], "output_bytes": 10, "input_bytes": 5,
               "passes": [{"traced": False, "cpu_s": 1.0, "storage_peak_bytes": 1e6,
                           "calls": [call("x", 1.0), call("y", 0.001, ok=False)]},
                          {"traced": False, "cpu_s": 1.0, "storage_peak_bytes": 1e6,
                           "calls": [call("x", 1.2), call("y", 0.002, ok=False)]}]}
        out, info = metrics.result(rec, {}, traced=False)
        self.assertFalse(out["correct"])
        self.assertEqual((out["attempted"], out["failed"]), (4, 2))
        self.assertEqual(info["failed_ratio"], 0.5)
        m = {k: v["value"] for k, v in out["metrics"].items()}
        self.assertAlmostEqual(m["pass_s"], 1.1)
        self.assertAlmostEqual(m["job_s.gmean"], 1.1)  # only x timed: median 1.1
        self.assertAlmostEqual(m["ok_ratio"], 0.5)

    def test_failed_output_check_counts_every_call(self):
        rec = {"setup_s": [1.0], "output_bytes": 1, "input_bytes": 1,
               "passes": [{"traced": False, "cpu_s": 1.0, "storage_peak_bytes": 1,
                           "calls": [{"name": "x", "s": 1.0, "ok": True, "error": None}]}]}
        out, _ = metrics.result(rec, {"x": "rows 1 vs 2"}, traced=False)
        self.assertEqual((out["attempted"], out["failed"], out["correct"]), (1, 1, False))

    def test_trace_overhead_compares_best_passes(self):
        def run_pass(traced, s):
            return {"traced": traced, "calls": [{"name": "x", "s": s, "ok": True, "error": None}]}
        # untraced and traced passes alternate; the first is still warming up
        rec = {"passes": [run_pass(False, 3.3), run_pass(True, 2.44), run_pass(False, 2.41)],
               "landing_s": {}, "relands": {}, "landed_bytes": 0, "memo_build_s": {},
               "rebuilds": {}, "cores": 3}
        out, info = metrics.result(rec, {}, traced=True)
        self.assertAlmostEqual(out["metrics"]["trace.overhead_s"]["value"], 0.03)
        self.assertEqual((info["traced_passes"], info["untraced_passes"]), (1, 2))

    def test_throwing_job_in_a_real_run(self):
        r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                            "--workload", "llm_corpus", "--seed", "1", "--seconds", "1",
                            "--fail", "q41_minhash_lsh_pairs"],
                           capture_output=True, text=True, cwd=ROOT, timeout=600)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        out = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(out["correct"])
        self.assertGreater(out["failed"], 0)
        self.assertLess(out["metrics"]["ok_ratio"]["value"], 1.0)
        info = json.loads(r.stdout.strip().splitlines()[-2][len("# run "):])
        self.assertEqual(info["job_samples"], out["attempted"] - out["failed"])


if __name__ == "__main__":
    unittest.main()
