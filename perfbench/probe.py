"""Layer probes of a traced run, and the per-layer metrics made from spans.

A traced run first runs its workload with spans, then this fixed probe set,
so every per-layer metric exists on every workload. Each probe calls one
layer directly; the probe set uses the run's seeded corpus for the scan and
build layers and a small catalog of its own for the catalog and query layers.
A per-layer metric is the median over all spans (or counts) of its name in
the run, so a layer the workload exercises is dominated by the workload's
own calls.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pyarrow.parquet as pq

import checks
from spans import median
from workloads import SEQ_SPECS, Bench, append_delta, load_rows, new_farm

from sketchlib.hashing import hash_any
from sketchlib.sketches import deserialize
from sketchlib.spark import build_sketches, merge_states
from sketchlib.spark.query import estimates_df, load_states, quantiles_df, topk_df, union_estimate
from sketchlib.spark.scan import build_sketches_from_parquet, partial_states_from_parquet, plan_chunks
from sketchlib.sql import resolve_catalog_key

KINDS = {"hll": "hll_tok", "cm": "cm_tok", "kll": "kll_ntok", "tdigest": "td_ntok", "bloom": "bloom_tok"}
ON_THE_FLY_ROUTE = "on_the_fly"
MICRO_ITEMS = 200_000
MICRO_REPS = 5


def _median_time(fn, reps: int = MICRO_REPS) -> float:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return median(out)


def sketch_kernels(b: Bench, corpus: str) -> None:
    """Per-item update cost of each kind and of hashing, on corpus tokens."""
    f = sorted(glob.glob(os.path.join(corpus, "source=web", "*.parquet")))[0]
    toks = pq.read_table(f, columns=["tokens"]).column("tokens").combine_chunks().flatten().to_numpy()
    toks = np.resize(toks, MICRO_ITEMS).astype(np.int32)
    spec_by_name = {s.name: s for s in SEQ_SPECS}
    for kind, name in KINDS.items():
        spec = spec_by_name[name]
        vals = toks.astype(np.float64) if kind in ("kll", "tdigest") else toks
        sec = _median_time(lambda: spec.update(spec.make(), vals))
        b.tracer.count(f"sketches.{kind}.update_ns_per_item", sec / len(vals) * 1e9)
    sec = _median_time(lambda: hash_any(toks))
    b.tracer.count("hashing.hash_ns_per_item", sec / len(toks) * 1e9)


def sketch_states(b: Bench, states: dict) -> None:
    """Merge and serde cost and size of each kind's largest state."""
    for kind, name in KINDS.items():
        blob = max((sk.to_bytes() for (g, n), sk in states.items() if n == name), key=len)
        b.tracer.count(f"sketches.{kind}.state_bytes", len(blob))

        def serde(blob=blob):
            deserialize(blob).to_bytes()

        b.tracer.count(f"sketches.{kind}.serde_us", _median_time(serde) * 1e6)
        merges = []
        for _ in range(MICRO_REPS):
            x, y = deserialize(blob), deserialize(blob)
            t0 = time.perf_counter()
            x.merge(y)
            merges.append(time.perf_counter() - t0)
        b.tracer.count(f"sketches.{kind}.merge_us", median(merges) * 1e6)


def scan_and_build(b: Bench, corpus: str) -> None:
    spark, tr = b.spark, b.tracer
    with tr.span("scan.plan_chunks"):
        chunks = plan_chunks(corpus)
    tr.count("scan.chunks", len(chunks))
    partial = partial_states_from_parquet(spark, corpus, SEQ_SPECS, group_by="source").persist()
    with tr.op("partial_merge"):
        with tr.span("scan.partial"):
            rows = partial.collect()
        tr.count("scan.partial_state_rows", len(rows))
        tr.count("scan.partial_state_bytes", sum(len(r["state"]) for r in rows))
        with tr.span("build.merge"):
            merged = merge_states(partial).collect()
    partial.unpersist()
    sketch_states(b, load_rows(merged))
    small = spark.read.parquet(b.inputs.small_table())
    with tr.op("df_build"), b.spark_ops.op("df_build"), tr.span("build.df_build"):
        build_sketches(small, SEQ_SPECS, group_by="source").collect()


def catalog_and_query(b: Bench) -> None:
    spark, tr = b.spark, b.tracer
    farm = new_farm(b, "probe_farm")
    cat = b.catalog("probe")
    with tr.op("create"), b.spark_ops.op("create"), tr.span("catalog.create"):
        cat.create("seq", farm, SEQ_SPECS, group_by="source")
    sdir = os.path.join(cat.root, "states", "seq")
    tr.count("catalog.state_files", sum(len(fs) for _, _, fs in os.walk(sdir)))
    with tr.span("catalog.states_read"):
        cat.states("seq").collect()
    with tr.span("catalog.resolve"):
        resolve_catalog_key(spark, "SELECT APPROX_TOPK(tokens, 10) FROM seq GROUP BY source",
                            {"seq": farm}, catalog=cat)
    states = cat.states("seq")
    with tr.span("query.load_states"):
        load_states(states)
    with tr.span("query.answer.estimates"):
        estimates_df(spark, states, "hll_doc").collect()
    with tr.span("query.answer.topk"):
        topk_df(spark, states, "cm_tok", 10).collect()
    with tr.span("query.answer.quantiles"):
        quantiles_df(spark, states, "kll_ntok", [0.5, 0.9]).collect()
    with tr.span("query.answer.union"):
        union_estimate(states, "hll_doc")
    stmt = "SELECT APPROX_PERCENTILE(n_tok, 0.5) FROM seq GROUP BY source"
    with tr.span("sql.explain"):
        b.explain_route(stmt, {"seq": farm}, cat)
    with tr.op("serve"), b.spark_ops.op("serve"):
        b.run_sql(stmt, {"seq": farm}, cat, "seq")
    append_delta(b, farm, 0)
    with tr.op("refresh"), b.spark_ops.op("refresh"), tr.span("catalog.refresh"):
        cat.refresh("seq")
    on_the_fly(b)
    corpus = b.inputs.corpus()
    with tr.op("build"), b.spark_ops.op("build"), tr.span("build.full"):
        build_sketches_from_parquet(spark, corpus, SEQ_SPECS, group_by="source").collect()


def on_the_fly(b: Bench) -> None:
    """One statement with a seeded WHERE literal and no catalog, so sketches
    are built on the fly from Spark's scan; its route and its answer are
    checked like a workload's."""
    path = b.inputs.lineitem()
    qty = b.rng.randint(5, 45)
    stmt = f"SELECT APPROX_COUNT_DISTINCT(l_partkey) FROM lineitem WHERE l_quantity > {qty}"
    tables = {"lineitem": path}
    route = b.explain_route(stmt, tables)
    if ON_THE_FLY_ROUTE not in route:
        b.misrouted.append(f"probe: {stmt} -> {route!r}")
    t = pq.read_table(path, columns=["l_partkey", "l_quantity"])
    keep = t.column("l_quantity").to_numpy() > qty
    exact = len(np.unique(t.column("l_partkey").to_numpy()[keep]))

    def op():
        with b.tracer.op("adhoc"), b.spark_ops.op("adhoc"):
            return b.run_sql(stmt, tables)

    b.timed("adhoc", op, lambda rows: checks.count_distinct(stmt, rows, exact))


def run_probes(b: Bench) -> None:
    b.tracer.enabled = True
    corpus = b.inputs.corpus()
    sketch_kernels(b, corpus)
    scan_and_build(b, corpus)
    catalog_and_query(b)


SPAN_METRICS = {  # metric -> (span name, scale, unit)
    "scan.plan_chunks_ms": ("scan.plan_chunks", 1e3, "ms"),
    "scan.partial_s": ("scan.partial", 1.0, "s"),
    "build.merge_s": ("build.merge", 1.0, "s"),
    "build.df_build_s": ("build.df_build", 1.0, "s"),
    "catalog.create_s": ("catalog.create", 1.0, "s"),
    "catalog.refresh_s": ("catalog.refresh", 1.0, "s"),
    "catalog.states_read_ms": ("catalog.states_read", 1e3, "ms"),
    "catalog.resolve_ms": ("catalog.resolve", 1e3, "ms"),
    "query.load_states_ms": ("query.load_states", 1e3, "ms"),
    "query.answer_ms.estimates": ("query.answer.estimates", 1e3, "ms"),
    "query.answer_ms.topk": ("query.answer.topk", 1e3, "ms"),
    "query.answer_ms.quantiles": ("query.answer.quantiles", 1e3, "ms"),
    "query.answer_ms.union": ("query.answer.union", 1e3, "ms"),
    "sql.plan_ms": ("sql.plan", 1e3, "ms"),
    "sql.exec_ms": ("sql.exec", 1e3, "ms"),
    "sql.explain_ms": ("sql.explain", 1e3, "ms"),
}
COUNT_UNITS = {
    "update_ns_per_item": "ns", "hash_ns_per_item": "ns", "merge_us": "us", "serde_us": "us",
    "state_bytes": "bytes", "chunks": "count", "partial_state_rows": "count",
    "partial_state_bytes": "bytes", "state_files": "count",
}
SPARK_OPS = ("build", "df_build", "create", "refresh", "serve", "adhoc")


def per_layer_metrics(b: Bench, overhead_ms: float, jvm_rss_mb: float) -> dict[str, dict]:
    selfs = b.tracer.self_times()
    out: dict[str, dict] = {}
    for metric, (span, scale, unit) in SPAN_METRICS.items():
        out[metric] = {"value": median(selfs[span]) * scale, "unit": unit}
    for name, vals in b.tracer.counts.items():
        suffix = name.rsplit(".", 1)[-1]
        if suffix in COUNT_UNITS:
            out[name] = {"value": median(vals), "unit": COUNT_UNITS[suffix]}
    for what in ("jobs", "stages", "tasks"):
        for op in SPARK_OPS:
            out[f"spark.{what}_per_op.{op}"] = {
                "value": median(b.tracer.counts[f"spark.{what}_per_op.{op}"]), "unit": "count"}
    tasks = sum(b.tracer.counts["spark.tasks"])
    out["spark.tasks_ok_frac"] = {
        "value": (tasks - sum(b.tracer.counts["spark.failed_tasks"])) / tasks, "unit": "ratio"}
    out["spark.jvm_peak_rss_mb"] = {"value": jvm_rss_mb, "unit": "MB"}
    out["trace.overhead_ms"] = {"value": overhead_ms, "unit": "ms"}
    return out
