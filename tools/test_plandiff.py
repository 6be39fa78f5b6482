#!/usr/bin/env python3
"""Self-test of tools/plandiff.py.

Two dump directories are written by hand, shaped like `graft.Profile
--plan` output (header, conf line, formatted plan):

  1. dumps that differ only in what the strip removes (expression ids,
     plan_id, .scala lines, the data and scaffold paths, a graft_* temp
     suffix) compare identical;
  2. a real plan change is reported at its first differing line, with
     both sides' lines;
  3. a shifted MapPartitionsRDD id (an extra table read) is NOT
     stripped;
  4. a dump present on one side only is reported;
  5. the exit code is 0 only when every dump is identical.

Run: python3 tools/test_plandiff.py   (prints PASS lines; exit 0 = green)
"""
import io
import os
import shutil
import sys
import tempfile
from contextlib import redirect_stderr, redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import plandiff  # noqa: E402


def dump(data, scaffold, body):
    return (f"# q — explain(formatted) at {data}/sf0.01\n"
            "# conf: spark.master=local[4], spark.sql.shuffle.partitions=4, "
            f"spark.graft.scaffoldDir={scaffold}\n\n"
            "== Physical Plan ==\n" + body)


BEFORE = """AdaptiveSparkPlan (3)
+- Project (2)
   +- Scan parquet  (1)

(1) Scan parquet
Output [2]: [o_orderkey#12L, o_custkey#13L]
Location: InMemoryFileIndex [file:{data}/sf0.01/orders.parquet]
(2) Project [codegen id : 1]
Output [1]: [(o_orderkey#12L + 100000000) AS oid#40L]
Arguments: plan_id=117, localCheckpoint at Foo.scala:88
Location: InMemoryFileIndex [file:/tmp/graft_tiles_log_1_{tmp}/store/b0]
Scan ExistingRDD[{scaffold}/pipeline-norm]
Scan ExistingRDD MapPartitionsRDD[{rdd}]
"""


def write(d, name, data, scaffold, tmp, rdd, body=BEFORE):
    os.makedirs(d, exist_ok=True)
    text = dump(data, scaffold, body.format(
        data=data, scaffold=scaffold, tmp=tmp, rdd=rdd))
    with open(os.path.join(d, name + ".txt"), "w", encoding="utf-8") as f:
        f.write(text)


def run(a, b):
    buf = io.StringIO()
    bad = plandiff.compare(a, b, out=buf)
    return bad, buf.getvalue()


def expect(cond, label, detail=""):
    if not cond:
        print(f"FAIL {label}: {detail}")
        sys.exit(1)
    print(f"PASS {label}")


def main():
    root = tempfile.mkdtemp(prefix="plandiff_test_")
    try:
        a, b = os.path.join(root, "a"), os.path.join(root, "b")
        write(a, "q_same", "/data/one", "/tmp/sc.AAAA", "1021814250509857", 7)
        write(b, "q_same", "/other/two", "/x/sc.BBBB", "9937261537744112", 7)
        bad, out = run(a, b)
        expect(bad == 0 and "q_same: identical" in out,
               "run-to-run noise is stripped", out)

        changed = BEFORE.replace("+ 100000000)", "+ 200000000)")
        write(a, "q_plan", "/d", "/s1", "11111111", 3)
        write(b, "q_plan", "/d", "/s2", "22222222", 3, body=changed)
        bad, out = run(a, b)
        expect(bad == 1 and "q_plan: differs at line 13" in out
               and "- Output [1]: [(o_orderkey + 100000000) AS oid]" in out
               and "+ Output [1]: [(o_orderkey + 200000000) AS oid]" in out,
               "a plan change is reported at its first differing line", out)

        shutil.rmtree(b)
        write(b, "q_same", "/d", "/s2", "22222222", 9)
        write(b, "q_new", "/d", "/s2", "22222222", 3)
        bad, out = run(a, b)
        expect("q_same: differs" in out and "MapPartitionsRDD[7]" in out
               and "MapPartitionsRDD[9]" in out,
               "a shifted checkpoint RDD id is a difference", out)
        expect(f"q_plan: only in {a}" in out and f"q_new: only in {b}" in out
               and bad == 3, "a dump on one side only is reported", out)

        with redirect_stdout(io.StringIO()), redirect_stderr(io.StringIO()):
            rcs = [plandiff.main(["plandiff", a, b]),
                   plandiff.main(["plandiff", a, a]),
                   plandiff.main(["plandiff", a])]
        expect(rcs == [1, 0, 2], "exit code: 0 identical, 1 differing, 2 usage",
               rcs)
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
