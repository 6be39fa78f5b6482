#!/usr/bin/env python3
"""Cold-batch benchmark with per-layer attribution.

    python3 perfbench/run.py --workload ski_batch --seed 1 --seconds 10 \\
        --trace 0

Run from the root of a checkout. The first run builds the harness
(perfbench/harness, which compiles the program's src/main together with
the benchmark-side harness code) into .bench_build/; later runs reuse the
build while the sources are unchanged. Each run then generates the
workload's input from the seed, runs it in one fresh JVM
(perfbench.Harness), checks the outputs (DuckDB oracles through
tools/check.py, SQLite row counts of the .gpkg/.mbtiles containers) and
prints one JSON line: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. perfbench/README.md describes the workloads and
the metrics and holds the prediction table.
"""
import argparse
import contextlib
import fcntl
import hashlib
import json
import os
import shutil
import sqlite3
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402

# Generator parameters per workload (gen.py).
WORKLOADS = {
    "ski_batch": {"kind": "ski", "orders": 6000},
    "corpus_batch": {"kind": "corpus", "documents": 6000, "embeddings": 2400,
                     "dup_share": 0.05},
}
# Fixed heap with a fixed young generation: with an adaptive layout the
# JVM's resident set (peak_rss_mb) depends on when the collector decides
# to grow the heap, and varied by 60% between identical runs.
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC",
              "-XX:-UseAdaptiveSizePolicy"]
# keeps the JVM from writing its perf-data file outside the checkout
NO_PERF_DATA = "-XX:-UsePerfData"
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    """The Spark install the program runs on (its jars/ directory)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        sys.exit("SPARK_HOME is not set")
    return home


def source_hash(root):
    """Content hash of everything the harness build compiles."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"),
            os.path.join(HERE, "harness", "src"),
            os.path.join(HERE, "harness", "build.sbt"),
            os.path.join(HERE, "harness", "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_build(root, build_dir):
    """Compile the harness unless the stamp says the sources are built."""
    os.makedirs(build_dir, exist_ok=True)
    classes = os.path.join(build_dir, "harness", "scala-2.13", "classes")
    stamp = os.path.join(build_dir, "harness.stamp")
    want = source_hash(root)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp):
            with open(stamp) as f:
                if f.read() == want:
                    return classes
        log("building the harness (sbt compile)")
        tmp = os.path.join(build_dir, "sbt-tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, SPARK_HOME=spark_home(),
                   COURSIER_MODE="offline", SBT_OPTS=(
            "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g "
            f"{NO_PERF_DATA} -Djava.io.tmpdir={tmp} "
            "-Dsbt.server.autostart=false -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories")))
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "compile", "Compile/copyResources"],
            cwd=os.path.join(HERE, "harness"), env=env,
            stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            sys.exit(f"harness build failed ({r.returncode})")
        with open(stamp, "w") as f:
            f.write(want)
    return classes


def generate(g, seed, in_dir):
    """Write the workload's input; returns (row counts, planted pairs)."""
    os.makedirs(in_dir)
    if g["kind"] == "ski":
        return gen.gen_ski(in_dir, seed, g["orders"]), []
    return gen.gen_corpus(in_dir, seed, g["documents"], g["embeddings"],
                          g["dup_share"])


def java_opens():
    """The module opens Spark needs outside spark-submit."""
    return [a for p in ADD_OPENS for a in ("--add-opens",
                                           p + "=ALL-UNNAMED")]


def run_jvm(classes, workload, in_dir, work, seconds, trace):
    cmd = (["java"] + java_opens()
           + JVM_MEMORY + [NO_PERF_DATA, f"-Djava.io.tmpdir={work}/tmp",
              "-cp", f"{classes}:{spark_home()}/jars/*", "perfbench.Harness",
              "--workload", workload, "--input", in_dir, "--work", work,
              "--seconds", str(seconds), "--trace", str(trace),
              "--result", f"{work}/result.json"])
    os.makedirs(f"{work}/tmp")
    with open(f"{work}/jvm.log", "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(f"{work}/jvm.log") as f:
            tail = [l for l in f.read().splitlines() if "perfbench" in l
                    or "Exception" in l][-5:]
        sys.exit(f"harness exited with {code}: {tail}")
    with open(f"{work}/result.json") as f:
        return json.load(f)


def check_outputs(root, in_dir, out_dirs, res):
    """Oracle compare of every oracle-covered output in each of
    `out_dirs`, plus SQLite row counts of the first one's containers;
    returns a list of problems."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import check  # the repo's DuckDB-oracle harness
    problems = []
    for out_dir in out_dirs:
        with contextlib.redirect_stdout(sys.stderr):
            if check.main([in_dir, out_dir]) != 0:
                problems.append(f"oracle mismatch in {out_dir} (see stderr)")
    out_dir = out_dirs[0]
    for name, tables in res["containers"].items():
        with contextlib.closing(sqlite3.connect(
                f"file:{out_dir}/{name}?mode=ro", uri=True)) as db:
            for t in tables:
                n = db.execute(f'SELECT count(*) FROM "{t["table"]}"') \
                    .fetchone()[0]
                if n != t["rows"]:
                    problems.append(f"{name}:{t['table']} has {n} rows, "
                                    f"writer returned {t['rows']}")
    return problems


def planted_recall(out_dir, planted):
    path = f"{out_dir}/q_dedup_minhash_lsh"
    if not planted or not os.path.isdir(path):
        return 0.0
    import duckdb
    found = set(duckdb.sql(
        f"SELECT doc_a, doc_b FROM '{path}/*.parquet'").fetchall())
    hit = sum(1 for a, b in planted if (min(a, b), max(a, b)) in found)
    return hit / len(planted)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("src/main/scala", "tools/check.py"):
        if not os.path.exists(os.path.join(root, need)):
            sys.exit(f"not a checkout of the program: {need} is missing")
    spec = WORKLOADS.get(a.workload)
    if spec is None:
        sys.exit(f"unknown workload {a.workload}")

    build_dir = os.path.join(root, ".bench_build")
    classes = ensure_build(root, build_dir)

    t_start = time.time()
    work = os.path.join(build_dir, "runs",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "input")
    rows, planted = generate(spec, a.seed, in_dir)
    t_gen = time.time()
    res = run_jvm(classes, a.workload, in_dir, work, a.seconds, a.trace)
    t_jvm = time.time()
    out_dir = os.path.join(work, "check", "out")
    # the traced job runs the layer-by-layer copy of the ski chain
    checked = [out_dir] + ([os.path.join(work, "traced", "out")]
                           if a.trace else [])
    problems = check_outputs(root, in_dir, checked, res)
    log(f"generate {t_gen - t_start:.1f} s, jvm {t_jvm - t_gen:.1f} s "
        f"(window closed {t_jvm - res['window_close_ms'] / 1e3:.1f} s "
        f"before exit), check {time.time() - t_jvm:.1f} s")
    for p in problems:
        log(p)

    walls = res["walls"]
    wall = statistics.median(walls)
    if a.trace:
        metrics = layers.per_layer(res["trace"],
                                   planted_recall(out_dir, planted))
    else:
        metrics = {
            "setup_s": (res["window_open_ms"] / 1e3 - t_start, "s"),
            "wall_s": (wall, "s"),
            "input_rows_per_s": (sum(rows.values()) / wall, "rows/s"),
            "cpu_s": (statistics.median(res["cpus"]), "s"),
            "peak_rss_mb": (res["vmhwm_kb"] / 1024, "MB"),
            "output_mb": (statistics.median(res["output_bytes"]) / 1e6,
                          "MB")}
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "input_rows": rows, "planted_pairs": len(planted),
              "wall_samples": walls, "nproc": res["nproc"],
              "heap_max_mb": res["heap_max_mb"], "problems": problems,
              "metrics": {k: v for k, (v, _) in metrics.items()}}
    with open(os.path.join(build_dir, f"last-{a.workload}-{a.trace}.json"),
              "w") as f:
        json.dump(detail, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not problems,
        "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
