"""One benchmark sample in a fresh interpreter.

A fresh interpreter per sample, because the py4j JVM outlives
``spark.stop()``. The sample times set-up (``get_spark`` plus a warm-up job
that starts the JVM's task threads and the Python worker pool), then runs
its operation as the timed region, then collects the outputs the parent
checks. ``e2e`` runs what ``jobs/dedup.py main`` does after session start;
``trace`` writes Spark's event log and runs the layer-by-layer composition of
``traced.py`` (dedup layers, then the curation and streaming layers).

    python3 perfbench/child.py <spec.json>

The spec names the input ``case`` directory, the ``fold`` case of the
curation and streaming layers, a ``work`` directory for everything the
sample writes, and the ``mode``; the result lands in
``<work>/result.json``. ``region.on`` / ``region.off`` in the work directory
mark the timed region for the parent's memory sampler.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys
import time

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import proctree  # noqa: E402
import traced  # noqa: E402


def _plus_one(s: pd.Series) -> pd.Series:
    return s + 1


def warm_up(spark) -> None:
    """One pandas-UDF job with a task per core: starts the executor threads
    and one Python worker per core before the timed region."""
    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism
    udf = F.pandas_udf(_plus_one, "long")
    spark.range(0, 1000 * n, numPartitions=n).select(udf("id").alias("x")) \
        .agg(F.sum("x")).collect()


def digest(lines) -> str:
    return hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()


def dedup_e2e(spark, case: str, work: str) -> None:
    """jobs/dedup.py main after session start, with the job's defaults."""
    from replicheck_spark.config import DedupConfig
    from replicheck_spark.operators.report import (
        block_dup_summary, cluster_summary, complexity_summary, edge_summary,
        render_text,
    )
    from replicheck_spark.plans.pipeline import run_dedup

    pages = spark.read.parquet(f"{case}/pages.parquet")
    result = run_dedup(spark, pages, DedupConfig(), f"{work}/ckpt",
                       run_id="bench")
    summary = cluster_summary(result.clusters)
    edges = edge_summary(result.edges)
    complexity = complexity_summary(result.docs)
    blocks = block_dup_summary(result.docs)
    result.docs.count()
    render_text(summary, edges, complexity=complexity, blocks=blocks)


def trace_op(spark, spans, case: str, fold: str, work: str) -> dict:
    """The dedup layers on the workload's case, then the curation and
    streaming layers on the ``fold`` case."""
    out = traced.dedup(spark, spans, f"{case}/pages.parquet", f"{work}/ckpt")
    cur = traced.curate(spark, spans, f"{fold}/docs.parquet", f"{work}/ckpt")
    traced.streaming(spark, spans, sorted(glob.glob(f"{fold}/batches/*.parquet")),
                     work)
    return {"counters": {**out["counters"], **cur["counters"]},
            "tables": {**out["tables"], **cur["tables"]}}


# ---- outputs, read back after the session stopped -------------------------

def _columns(path: str, cols: list[str]) -> dict:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=cols).to_pydict()


def dedup_outputs(run_dir: str) -> dict:
    docs = _columns(f"{run_dir}/docs", ["doc_id", "url"])
    url = dict(zip(docs["doc_id"], docs["url"]))
    lab = _columns(f"{run_dir}/labels", ["doc_id", "cluster_id"])
    pairs = [(url[d], c) for d, c in zip(lab["doc_id"], lab["cluster_id"])]
    return {
        "labels": pairs,
        "cluster_members": sum(_columns(f"{run_dir}/clusters", ["size"])["size"]),
        "digest": digest(f"{u}\t{c}" for u, c in pairs),
    }


def curate_outputs(case: str, run_dir: str) -> dict:
    """Survivor urls and text hashes. doc_id is the pipeline's
    ``xxhash64(url)``, which ``inputs.xxhash64`` reproduces."""
    urls = _columns(f"{case}/pages.parquet", ["url"])["url"]
    url = {inputs.xxhash64(u): u for u in urls}
    t = _columns(f"{run_dir}/curated", ["doc_id", "text"])
    survivors = [url[d] for d in t["doc_id"]]
    return {
        "survivor_urls": survivors,
        "survivor_text_sha": [hashlib.sha256(x.encode()).hexdigest()
                              for x in t["text"]],
        "digest": digest(survivors),
    }


def streaming_outputs(work: str) -> dict:
    urls = sorted(set(_columns(f"{work}/hits", ["url"])["url"]))
    return {
        "hit_urls": urls,
        "digest": digest(urls),
        "store_rows": len(_columns(f"{work}/store", ["doc_id"])["doc_id"]),
    }


# ---- the sample ------------------------------------------------------------

def layer_metrics(spans, events, counters, tables) -> dict:
    m = {}
    for layer in traced.DEDUP_LAYERS + traced.CURATE_LAYERS + ["streaming"]:
        m[f"{layer}.wall_s"] = spans.wall(layer)
        ev = events.get(layer, {})
        for k in traced.EVENT_METRICS:
            m[f"{layer}.{k}"] = ev.get(k, 0.0)
        if layer in tables:
            m[f"{layer}.ckpt_mb"] = traced.du_mb(*tables[layer])
    m.update(counters)
    m["components.jobs"] = events.get("components", {}).get("jobs", 0)
    return m


def run(spec: dict) -> dict:
    work, case, mode = spec["work"], spec["case"], spec["mode"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the heap committed at its full size from the start: a growing heap
        # resizes on GC timing, which made peak memory bimodal between runs
        # of one input
        "spark.driver.extraJavaOptions":
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
    }
    if mode == "trace":
        os.makedirs(f"{work}/events", exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"{work}/events",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    me = os.getpid()

    t0 = time.monotonic()
    from replicheck_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    warm_up(spark)
    res = {"setup_s": time.monotonic() - t0}
    spans = traced.Spans(spark) if mode == "trace" else None

    cpu0 = proctree.tree_cpu_s(me)
    open(f"{work}/region.on", "w").close()
    t, epoch0 = time.monotonic(), time.time()
    if mode == "e2e":
        dedup_e2e(spark, case, work)
    else:
        out = trace_op(spark, spans, case, spec["fold"], work)
    res["wall_s"] = time.monotonic() - t
    res["cpu_s"] = proctree.tree_cpu_s(me) - cpu0
    epoch1 = time.time()
    open(f"{work}/region.off", "w").close()
    if spec.get("reference"):
        # the untraced operation, for trace_overhead_s when no untraced run
        # recorded one; after the traced work, so the layers stay cold
        t_ref = time.monotonic()
        dedup_e2e(spark, case, work)
        res["reference_wall_s"] = time.monotonic() - t_ref
    spark.stop()

    if mode == "e2e":
        res["dedup"] = dedup_outputs(f"{work}/ckpt/bench")
        return res

    res["dedup"] = dedup_outputs(f"{work}/ckpt/traced")
    res["curate"] = curate_outputs(spec["fold"], f"{work}/ckpt/curate")
    res["streaming"] = streaming_outputs(work)
    # the dedup layers alone: what the untraced sample runs
    report = next(r for r in spans.rows if r["name"] == "report")
    res["traced_dedup_s"] = report["end"] - t
    res["unattributed_s"] = res["wall_s"] - sum(
        r["end"] - r["start"] for r in spans.rows)
    res["spans"] = spans.rows
    (log,) = glob.glob(f"{work}/events/*")
    events = traced.attribute_event_log(log, (epoch0, epoch1))
    counters = {**out["counters"], **traced.streaming_counters(
        spans, f"{work}/store", len(res["streaming"]["hit_urls"]),
        res["streaming"]["store_rows"])}
    res["layers"] = layer_metrics(spans, events, counters, out["tables"])
    # jobs inside the timed region that no layer span claimed
    res["untagged_jobs"] = events.get(None, {}).get("jobs", 0)
    return res


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    os.chdir(spec["work"])
    result = run(spec)
    with open(os.path.join(spec["work"], "result.json"), "w") as f:
        json.dump(result, f)
