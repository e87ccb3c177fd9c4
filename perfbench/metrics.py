"""Metric catalogue and the arithmetic that turns a run into metrics.

``END_TO_END`` and ``PER_LAYER`` list every metric the benchmark prints,
with its unit; ``BENCHMARK.json`` at the repository root lists the same
names. Every workload prints every metric of the requested kind: a layer a
workload does not reach reports 0, which is the prediction for it.

Metrics named ``*spark_jobs``, ``*spark_stages``, ``*spark_tasks``,
``*_rows``, ``*pairs_out`` and ``*bytes*`` are counts that repeat exactly
for a given seed; cite them as counts, not as speed-ups.
"""

from __future__ import annotations

import math
import os
import statistics

from gen import READ_DECK, WRITE_OPS
from spans import SPARK_COUNTERS, Tracer

READ_OPS = tuple(op for op, _ in READ_DECK)
BATCH_JOBS = ("link_all_tags", "run_cluster_job", "clusters", "pipeline")
PIPELINE_STAGES = ("ingest", "quality_filter", "language_filter", "exact_dedup",
                   "near_dedup", "train_split", "decontaminated_train",
                   "packed_bins")
SELF_LAYERS = ("api", "crud", "storage", "filters", "sorting", "vectors", "tags",
               "graph", "aggregates", "jobs", "pipeline", "dedup", "sampling")

END_TO_END = {
    "setup_s": "s",
    "op_ms": "ms",
    "slow_op_ms": "ms",
}


def _per_layer() -> dict[str, str]:
    m = {"session.start_s": "s", "crud.load_s": "s"}
    for op in READ_OPS + WRITE_OPS:
        m[f"api.{op}.ms"] = "ms"
        m[f"api.{op}.driver_ms"] = "ms"
        m[f"api.{op}.spark_jobs"] = "count"
        if op in READ_OPS:
            m[f"api.{op}.spark_stages"] = "count"
            m[f"api.{op}.spark_tasks"] = "count"
            m[f"api.{op}.rows_collected"] = "count"
    for fn in ("find", "exists", "next_id", "save"):
        m[f"crud.{fn}_ms"] = "ms"
        m[f"crud.{fn}_spark_jobs"] = "count"
    m.update({"crud.save_bytes_written": "bytes",
              "crud.bytes_written_per_live_byte": "ratio",
              "crud.save_files_written": "count",
              "crud.nodes_plan_nodes": "count",
              "storage.add_file_ms": "ms",
              "storage.bytes_written": "bytes",
              "filters.predicate_ms": "ms",
              "sorting.plan_ms": "ms",
              "vectors.topk_similar_ms": "ms",
              "vectors.similar_pairs_s": "s",
              "vectors.similar_pairs_pairs_out": "count",
              "tags.nodes_by_tag_ms": "ms",
              "tags.jaccard_pairs_s": "s",
              "tags.jaccard_pairs_out": "count",
              "graph.connected_components_s": "s",
              "graph.cc_spark_jobs": "count",
              "aggregates.shared_tags_per_cluster_s": "s"})
    for job in BATCH_JOBS:
        m[f"jobs.{job}.s"] = "s"
        m[f"jobs.{job}.spark_jobs"] = "count"
        m[f"jobs.{job}.spark_stages"] = "count"
        m[f"jobs.{job}.spark_tasks"] = "count"
    m.update({"jobs.tag_relink_nodes_per_s": "1/s",
              "jobs.cluster_job_nodes_per_s": "1/s",
              "jobs.clusters_nodes_per_s": "1/s",
              "jobs.pipeline_docs_per_s": "1/s"})
    for st in PIPELINE_STAGES:
        m[f"pipeline.{st}_s"] = "s"
        m[f"pipeline.{st}_rows"] = "count"
    for c in SPARK_COUNTERS:
        if c != "job_ms":
            m[f"spark.{c}_per_op"] = "count" if c in ("jobs", "stages", "tasks") \
                else ("ms" if c.endswith("_ms") else "bytes")
    m["spark.utilization"] = "ratio"
    for layer in SELF_LAYERS:
        m[f"self.{layer}_ms_per_op"] = "ms"
    m["trace.overhead_ms"] = "ms"
    return m


PER_LAYER = _per_layer()


def med(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def class_medians(ops: list[tuple[str, float]]) -> dict[str, tuple[int, float]]:
    """(samples, median ms) per operation class."""
    by: dict[str, list[float]] = {}
    for c, ms in ops:
        by.setdefault(c, []).append(ms)
    return {c: (len(v), med(v)) for c, v in by.items()}


def geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def end_to_end(setup_s: float, measured: dict) -> dict[str, float]:
    """Geometric means of per-class median latencies, so every class counts
    the same whatever its share of the operations, and a change of x % in
    one of n classes moves the mean by about x/n %. ``op_ms`` takes the
    read types on ``api`` and every job on ``batch``; ``slow_op_ms`` takes
    the write types on ``api`` and is the slowest job's latency on
    ``batch``."""
    cm = {c: m for c, (_, m) in class_medians(measured["ops"]).items()}
    writes = [m for c, m in cm.items() if c in WRITE_OPS]
    return {"setup_s": setup_s,
            "op_ms": geomean(m for c, m in cm.items() if c not in WRITE_OPS),
            "slow_op_ms": geomean(writes) if writes else max(cm.values())}


def layer_metrics(tr: Tracer, measured: dict, base: dict, extra: dict,
                  cpus: int) -> dict[str, float]:
    """Per-layer metrics from the traced window's spans.

    ``measured``/``base`` are the traced and untraced windows' samples;
    ``extra`` carries values the workload measured itself (set-up parts,
    save sizes, throughputs)."""
    kids = tr.children()
    by_name: dict[str, list] = {}
    for sp in tr.spans:
        by_name.setdefault(sp.name, []).append(sp)
    out = dict(extra)

    def spans(name):
        return by_name.get(name, [])

    def incl(sp, key):
        return tr.inclusive(sp, kids)[key]

    for op in READ_OPS + WRITE_OPS:
        ss = spans(f"api.{op}")
        out[f"api.{op}.ms"] = med([s.ms for s in ss])
        out[f"api.{op}.driver_ms"] = med([s.ms - incl(s, "job_ms") for s in ss])
        out[f"api.{op}.spark_jobs"] = med([incl(s, "jobs") for s in ss])
        if op in READ_OPS:
            out[f"api.{op}.spark_stages"] = med([incl(s, "stages") for s in ss])
            out[f"api.{op}.spark_tasks"] = med([incl(s, "tasks") for s in ss])
            out[f"api.{op}.rows_collected"] = med([s.attrs.get("rows", 0) for s in ss])
    for fn in ("find", "exists", "next_id", "save"):
        ss = spans(f"crud.{fn}")
        out[f"crud.{fn}_ms"] = med([s.ms for s in ss])
        out[f"crud.{fn}_spark_jobs"] = med([incl(s, "jobs") for s in ss])

    n_req = sum(len(spans("request." + op)) for op in READ_OPS + WRITE_OPS)
    out["storage.add_file_ms"] = med([s.ms for s in spans("storage.save_file")])
    out["filters.predicate_ms"] = (sum(s.ms for s in spans("filters.predicate"))
                                   / n_req if n_req else 0.0)
    out["sorting.plan_ms"] = (sum(s.ms for s in spans("sorting.sort_nodes")
                                  + spans("sorting.paginate")) / n_req
                              if n_req else 0.0)
    out["tags.nodes_by_tag_ms"] = med([s.ms for s in spans("tags.nodes_by_tag")])

    # Most operators return lazy plans: their Spark work runs in the actions
    # after they return. A lazy operator's time is its span plus the jobs of
    # the enclosing call submitted after it returned and before the next
    # eager step began (for the top-k: to the end of the request, which
    # includes fetching the result rows).
    n_cycles = max(len(spans("job.pipeline")), 1)

    def after(op_name, root_name, until_name=None):
        total = 0.0
        for root in spans(root_name):
            sub = tr.subtree(root, kids)
            ops = [s for s in sub if s.name == op_name]
            if not ops:
                continue
            t0 = ops[0].wall_end_ms
            nxt = [s.wall_start_ms for s in sub
                   if s.name == until_name and s.wall_start_ms >= t0]
            t1 = min(nxt) if nxt else float("inf")
            total += sum(o.ms for o in ops)
            total += sum(ms for s in sub for _, _, ms, sub_ms in s.job_sites
                         if t0 <= sub_ms < t1)
        return total

    topk = after("vectors.topk_similar", "api.similar_nodes")
    n_sim = len(spans("api.similar_nodes"))
    out["vectors.topk_similar_ms"] = topk / n_sim if n_sim else 0.0
    out["vectors.similar_pairs_s"] = after(
        "vectors.similar_pairs", "job.run_cluster_job",
        "graph.connected_components") / 1000 / n_cycles
    out["tags.jaccard_pairs_s"] = after(
        "jobs.relink_by_tags", "job.link_all_tags") / 1000 / n_cycles
    out["aggregates.shared_tags_per_cluster_s"] = after(
        "aggregates.shared_tags_per_cluster", "job.clusters") / 1000 / n_cycles
    cc = spans("graph.connected_components")
    out["graph.connected_components_s"] = sum(s.ms for s in cc) / 1000 / n_cycles
    out["graph.cc_spark_jobs"] = med([incl(s, "jobs") for s in cc])

    for job in BATCH_JOBS:
        ss = spans(f"job.{job}")
        out[f"jobs.{job}.s"] = med([s.ms / 1000 for s in ss])
        for c in ("jobs", "stages", "tasks"):
            out[f"jobs.{job}.spark_{c}"] = med([incl(s, c) for s in ss])

    # a stage runs from the end of the previous stage's survivor count to
    # the end of its own
    stage_s = dict.fromkeys(PIPELINE_STAGES, 0.0)
    for root in spans("pipeline.run"):
        counts = sorted((s for s in kids.get(root.sid, []) if s.name == "spark.count"),
                        key=lambda s: s.start)
        prev = root.start
        for st, c in zip(PIPELINE_STAGES, counts):
            stage_s[st] += c.end - prev
            prev = c.end
    for st in PIPELINE_STAGES:
        out[f"pipeline.{st}_s"] = stage_s[st] / n_cycles

    ops = [sp for sp in tr.spans if sp.parent is None]
    n_ops = max(len(ops), 1)
    tot = dict.fromkeys(SPARK_COUNTERS, 0)
    for sp in tr.spans:
        for k, v in sp.spark.items():
            tot[k] += v
    for c in SPARK_COUNTERS:
        if c != "job_ms":
            out[f"spark.{c}_per_op"] = tot[c] / n_ops
    wall_ms = measured["wall"] * 1000
    out["spark.utilization"] = tot["executor_run_ms"] / (wall_ms * cpus) if wall_ms else 0.0

    # a survivor-count span only marks a pipeline stage: its time belongs to
    # the layer that called it
    by_sid = {sp.sid: sp for sp in tr.spans}
    self_ms = dict.fromkeys(SELF_LAYERS, 0.0)
    for sp in tr.spans:
        owner = by_sid[sp.parent] if sp.name == "spark.count" and sp.parent else sp
        layer = owner.name.split(".", 1)[0]
        if layer == "job":
            layer = "jobs"
        if layer in self_ms:
            self_ms[layer] += tr.self_ms(sp, kids)
    for layer in SELF_LAYERS:
        out[f"self.{layer}_ms_per_op"] = self_ms[layer] / n_ops
    out["trace.overhead_ms"] = (end_to_end(0, measured)["op_ms"]
                                - end_to_end(0, base)["op_ms"])
    return out


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under a snapshot directory."""
    total = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(d, f))
            files += 1
    return total, files
