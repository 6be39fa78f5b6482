"""Tests of the benchmark itself, on tiny inputs.

    python3 -m unittest discover -s perfbench/tests

Run from the root of a checkout; the listener test builds the harness
first if needed.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


def fingerprint(kind, seed):
    with tempfile.TemporaryDirectory() as d:
        if kind == "ski":
            gen.gen_ski(d, seed, 300)
        else:
            gen.gen_corpus(d, seed, 200, 50, 0.1)
        return gen.fingerprint(d)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_input(self):
        for kind in ("ski", "corpus"):
            self.assertEqual(fingerprint(kind, 7), fingerprint(kind, 7))

    def test_other_seed_other_input(self):
        for kind in ("ski", "corpus"):
            self.assertNotEqual(fingerprint(kind, 7), fingerprint(kind, 8))

    def test_planted_pairs_differ_in_one_token(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            _, pairs = gen.gen_corpus(d, 3, 400, 20, 0.1)
            text = pq.read_table(f"{d}/documents.parquet")["text"] \
                .to_pylist()
        self.assertEqual(len(pairs), 40)
        for a, b in pairs:
            ta, tb = text[a].split(), text[b].split()
            self.assertEqual(len(ta), len(tb))
            self.assertEqual(sum(x != y for x, y in zip(ta, tb)), 1)


def span(i, parent, start, end, layer="x", name=None):
    return {"id": i, "parent": parent, "start_s": start, "end_s": end,
            "layer": layer, "name": name or f"span{i}"}


ZERO = {"task_cpu_s": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "records": 0, "jobs": 0, "actions": 0, "failed_tasks": 0,
        "retried_tasks": 0, "input_bytes": 0, "scaffold_builds": 0,
        "scaffold_bytes": 0}


def trace_of(spans, wall=9.0, untraced=8.5):
    return {"spans": [dict(ZERO, **s) for s in spans],
            "outside_spans": ZERO, "gc_s": 0.0, "max_method_bytes": 0,
            "wall_s": wall, "untraced_wall_s": untraced}


class SelfTimeTest(unittest.TestCase):
    def test_self_time_is_span_minus_child_cover(self):
        spans = [span(0, -1, 0.0, 10.0),
                 span(1, 0, 1.0, 4.0),   # overlaps its sibling
                 span(2, 0, 3.0, 6.0),
                 span(3, 1, 2.0, 3.0),   # grandchild: counts for 1 only
                 span(4, 2, 5.0, 7.5)]   # runs past its parent's end
        st = layers.self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - 5.0)  # children cover [1, 6]
        self.assertAlmostEqual(st[1], 3.0 - 1.0)
        self.assertAlmostEqual(st[2], 3.0 - 1.0)   # clipped to [5, 6]
        self.assertAlmostEqual(st[3], 1.0)
        self.assertAlmostEqual(st[4], 2.5)

    def test_layer_self_times_add_up_to_the_job(self):
        spans = [span(0, -1, 0.0, 9.0, ""),
                 span(1, 0, 0.5, 4.0, "dedup"),
                 span(2, 1, 1.0, 3.0, "dedup"),
                 span(3, 0, 4.0, 8.0, "similarity")]
        m = layers.per_layer(trace_of(spans), 1.0)
        self.assertAlmostEqual(m["dedup.self_s"][0], 3.5)
        self.assertAlmostEqual(m["similarity.self_s"][0], 4.0)
        self.assertAlmostEqual(m["trace.unattributed_s"][0], 1.5)
        self.assertAlmostEqual(m["trace.overhead_s"][0], 0.5)
        self.assertEqual(m["skifeatures.self_s"][0], 0)

    def test_closure_jobs_are_the_closure_spans_actions(self):
        spans = [span(0, -1, 0.0, 9.0, ""),
                 dict(span(1, 0, 0.0, 8.0, "clustering"), actions=2),
                 dict(span(2, 1, 0.0, 6.0, "clustering",
                           layers.CLOSURE_SPAN), actions=8)]
        m = layers.per_layer(trace_of(spans), 0.0)
        self.assertEqual(m["clustering.jobs"][0], 8)


class ListenerTest(unittest.TestCase):
    def test_known_jobs_land_under_their_spans(self):
        root = os.getcwd()
        classes = run.ensure_build(root, os.path.join(root, ".bench_build"))
        with tempfile.TemporaryDirectory() as tmp:
            r = subprocess.run(
                ["java"] + run.java_opens() + [
                    run.NO_PERF_DATA, f"-Djava.io.tmpdir={tmp}", "-Xmx1g",
                    "-cp", f"{classes}:{run.spark_home()}/jars/*",
                    "perfbench.ListenerCheck"],
                capture_output=True, text=True, timeout=170, cwd=tmp)
        out = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(r.returncode, 0, out)
        self.assertTrue(out["ok"])


if __name__ == "__main__":
    unittest.main()
