"""Per-layer metrics from the traced job's spans.

A span is a dict with id, name, layer, parent (-1 for the root),
start_s, end_s, records, scaffold_builds, scaffold_bytes and the stage
metrics the harness's listener attributed to it (jobs, actions, task_cpu_s,
shuffle_write_bytes, spill_bytes, input_bytes, failed_tasks,
retried_tasks).
"""
from collections import defaultdict

# named after the program's modules, in pipeline order
LAYERS = ["skifeatures", "formatters", "normalization", "enrichment",
          "clustering", "statistics", "outputformats", "geopackage",
          "mvttiles", "textanalysis", "dedup", "corpus", "similarity"]


# the span around Clustering.transitiveAssign alone (Workloads.ClosureSpan)
CLOSURE_SPAN = "Clustering.transitiveAssign"


def self_times(spans):
    """span id -> its duration minus the part its children cover."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, cur = 0.0, None
        for a, b in sorted((max(c["start_s"], s["start_s"]),
                            min(c["end_s"], s["end_s"]))
                           for c in children[s["id"]]):
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur is not None:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur is not None:
            covered += cur[1] - cur[0]
        out[s["id"]] = s["end_s"] - s["start_s"] - covered
    return out


def per_layer(trace, planted_recall):
    """The --trace 1 metrics: name -> (value, unit)."""
    spans = trace["spans"]
    selfs = self_times(spans)
    root = next(s for s in spans if s["parent"] == -1)
    m = {}

    def total(key, layer=None):
        return sum(s[key] for s in spans
                   if layer is None or s["layer"] == layer)

    for layer in LAYERS:
        m[f"{layer}.self_s"] = (sum(selfs[s["id"]] for s in spans
                                    if s["layer"] == layer), "s")
        m[f"{layer}.task_cpu_s"] = (total("task_cpu_s", layer), "s")
        m[f"{layer}.shuffle_write_mb"] = (
            total("shuffle_write_bytes", layer) / 1e6, "MB")
        m[f"{layer}.spill_mb"] = (total("spill_bytes", layer) / 1e6, "MB")
        m[f"{layer}.records_out"] = (total("records", layer), "count")
    outside = trace["outside_spans"]
    m["scaffold.builds"] = (root["scaffold_builds"], "count")
    m["scaffold.written_mb"] = (root["scaffold_bytes"] / 1e6, "MB")
    # the closure call's Dataset actions, two per iteration
    m["clustering.jobs"] = (sum(s["actions"] for s in spans
                                if s["name"] == CLOSURE_SPAN), "count")
    m["mvttiles.tiles"] = (total("records", "mvttiles"), "count")
    m["dedup.planted_recall"] = (planted_recall, "ratio")
    m["spark.gc_s"] = (trace["gc_s"], "s")
    m["spark.failed_tasks"] = (
        total("failed_tasks") + outside["failed_tasks"], "count")
    m["spark.retried_tasks"] = (
        total("retried_tasks") + outside["retried_tasks"], "count")
    m["spark.input_mb"] = (
        (total("input_bytes") + outside["input_bytes"]) / 1e6, "MB")
    m["spark.max_method_bytes"] = (trace["max_method_bytes"], "bytes")
    m["trace.overhead_s"] = (trace["wall_s"] - trace["untraced_wall_s"], "s")
    m["trace.unattributed_s"] = (selfs[root["id"]], "s")
    return m
