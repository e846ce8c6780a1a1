"""The traced run: layer spans from the benchmark's side, attributed through
Spark's event log.

Each layer is one public call into the program, followed by the same
materialization ``run_dedup(checkpoint="full")`` applies to a stage
(observe-counted ``TableIO.write``, ``TableIO.read``, one ``MetricsSink`` row),
under ``setJobDescription(<layer>)``. The span list stays in memory and is
written out when the run ends; the event log's TaskEnd metrics are summed per
job description afterwards. The traced labels must equal the untraced
``run_dedup`` labels of the same seed, which keeps this composition from
drifting away from the pipeline.

After the dedup layers the same session runs the curation stages of
``jobs/curate.py`` (``curate``) and a stream of batch files through
``IncrementalDedup.process_batch`` (``streaming``) on the planted corpus of
the seed, so every traced run measures those layers too.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

DEDUP_LAYERS = ["extract", "signatures", "exact", "lsh", "confirm", "substr",
                "components", "report"]
CURATE_LAYERS = ["curate.filter", "curate.scrub", "curate.line_dedup",
                 "curate.dedup"]
# metrics every layer gets from the event log, and their units
EVENT_METRICS = {
    "cpu_s": "s", "gc_s": "s", "python_s": "s",
    "shuffle_write_mb": "MB", "spill_mb": "MB",
}
_PY_TOTAL = "time to run Python workers"  # Spark's pythonTotalTime SQL metric


class Spans:
    """Layer spans (name, start, end, parent) recorded around public calls."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.rows: list[dict] = []

    @contextmanager
    def tagged(self, name: str):
        """Spark jobs started inside carry the job description ``name``."""
        self.sc.setJobDescription(name)
        try:
            yield
        finally:
            self.sc.setJobDescription(None)

    @contextmanager
    def span(self, name: str, parent: str = "run"):
        start = time.monotonic()
        try:
            with self.tagged(name):
                yield
        finally:
            self.rows.append({"name": name, "start": start,
                              "end": time.monotonic(), "parent": parent})

    def wall(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.rows if r["name"] == name)


def attribute_event_log(path: str, window: tuple[float, float]
                        ) -> dict[str | None, dict[str, float]]:
    """Sum TaskEnd metrics per job description and count jobs. Jobs with no
    description are keyed ``None`` when submitted inside ``window`` (epoch
    seconds: the timed region) and ``"outside"`` otherwise."""
    stage_desc: dict[int, str | None] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(desc):
        return out.setdefault(desc, {"jobs": 0, **{k: 0.0 for k in EVENT_METRICS}})

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                desc = (e.get("Properties") or {}).get("spark.job.description")
                if desc is None and not (
                        window[0] <= e["Submission Time"] / 1e3 <= window[1]):
                    desc = "outside"
                acc(desc)["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_desc.setdefault(sid, desc)
            elif kind == "SparkListenerTaskEnd":
                a = acc(stage_desc.get(e["Stage ID"]))
                tm = e.get("Task Metrics") or {}
                a["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                a["shuffle_write_mb"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0) / 2**20
                a["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 2**20
                for u in (e.get("Task Info") or {}).get("Accumulables", []):
                    if u.get("Name") == _PY_TOTAL:
                        a["python_s"] += int(u.get("Update") or 0) / 1e3
    return out


def du_mb(*paths: str) -> float:
    total = 0
    for p in paths:
        for d, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


def _norm_edges(df):
    """The pipeline's edge-table projection (plans.pipeline EDGE_COLS)."""
    from pyspark.sql import functions as F

    for c in ("a", "b", "a_url", "b_url", "jaccard", "hamming", "kind"):
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None))
    return df.select(
        F.col("a").cast("long"), F.col("b").cast("long"), "a_url", "b_url",
        F.col("jaccard").cast("double"), F.col("hamming").cast("int"), "kind",
    )


def dedup(spark, spans: Spans, pages_path: str, ckpt: str) -> dict:
    """jobs/dedup.py's work, one layer span per pipeline stage group.

    Returns per-layer counters and ``tables`` (layer -> checkpoint dirs).
    """
    from pyspark.sql import Observation, functions as F

    from replicheck_spark.config import DedupConfig
    from replicheck_spark.operators.components import (
        clusters_from_labels, connected_components,
    )
    from replicheck_spark.operators.confirm import confirm_pairs
    from replicheck_spark.operators.exact import (
        exact_edges_from_groups, exact_groups,
    )
    from replicheck_spark.operators.extract import eligible_docs, extract_docs
    from replicheck_spark.operators.lsh import candidate_pairs, explode_bands
    from replicheck_spark.operators.report import (
        block_dup_summary, cluster_summary, complexity_summary, edge_summary,
        render_text,
    )
    from replicheck_spark.operators.signatures import compute_signatures
    from replicheck_spark.operators.substr import anchor_pairs, substr_edges
    from replicheck_spark.plans.metrics import MetricsSink
    from replicheck_spark.sources.io import TableIO

    cfg = DedupConfig()
    run_id = "traced"
    io = TableIO(spark, ckpt, run_id)
    sink = MetricsSink(spark, f"{ckpt}/{run_id}/_metrics", run_id)
    rows: dict[str, int] = {}

    def stage(name, df, rows_in=-1):
        t0 = time.monotonic()
        obs = Observation()
        io.write(name, df.observe(obs, F.count(F.lit(1)).alias("rows_out")))
        rows[name] = int(obs.get["rows_out"])
        out = io.read(name)
        sink.record_stage(name, out, rows_in,
                          int((time.monotonic() - t0) * 1000), rows_out=rows[name])
        return out

    with spans.span("extract"):
        # run_dedup also scales AQE's advisory partition size with the input
        # bytes; at benchmark sizes that lands on the session default (4 MB)
        pages = spark.read.parquet(pages_path)
        if pages.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
            pages = pages.repartition(spark.sparkContext.defaultParallelism)
        docs = stage("docs", extract_docs(pages))
        elig = eligible_docs(docs, cfg.min_size)
    with spans.span("signatures"):
        sigs = stage("signatures", compute_signatures(elig, cfg), rows["docs"])
    with spans.span("exact"):
        groups = stage("exact_groups", exact_groups(elig, with_rep=True),
                       rows["signatures"])
        exact_e = stage("exact_edges", exact_edges_from_groups(elig, groups),
                        rows["signatures"])
    with spans.span("lsh"):
        pairs, capped = candidate_pairs(explode_bands(sigs, cfg), cfg)
        cands = stage("cand_pairs", pairs, rows["signatures"])
        overflow = int(capped.agg(F.coalesce(F.sum("overflow"), F.lit(0))).first()[0])
        if overflow:
            sink.record_totals("cands_capped", dropped=overflow)
    with spans.span("confirm"):
        near_e = stage("near_edges", confirm_pairs(cands, sigs, cfg),
                       rows["cand_pairs"])
    with spans.span("substr"):
        sub_cand, _, stats = anchor_pairs(sigs, cfg)
        fresh = sub_cand.join(near_e.select("a", "b"), ["a", "b"], "left_anti")
        substr_e = stage("substr_edges", substr_edges(
            fresh, docs, cfg, exact_run=False).drop("run_tokens"),
            rows["signatures"])
        st = stats.agg(F.coalesce(F.sum("overflow"), F.lit(0)),
                       F.coalesce(F.sum("rows"), F.lit(0))).first()
        sink.record_totals("substr_anchors", rows_out=int(st[1]),
                           dropped=int(st[0]))
    with spans.span("components"):
        edges = stage("edges", _norm_edges(exact_e)
                      .unionByName(_norm_edges(near_e))
                      .unionByName(_norm_edges(substr_e))
                      .dropDuplicates(["a", "b", "kind"]), rows["near_edges"])
        labels = stage("labels", connected_components(edges), rows["edges"])
        clusters = stage("clusters", clusters_from_labels(labels, docs),
                         rows["labels"])
    with spans.span("report"):
        summary = cluster_summary(clusters)
        render_text(summary, edge_summary(edges),
                    complexity=complexity_summary(docs),
                    blocks=block_dup_summary(docs))
        docs.count()
        sink.read()

    run = f"{ckpt}/{run_id}"
    with spans.tagged("counters"):  # after the layers, in no layer span
        n_anchor = sub_cand.count()
    return {
        "counters": {
            "extract.rows_out": rows["docs"],
            "signatures.rows_out": rows["signatures"],
            "exact.rows_out": rows["exact_edges"],
            "exact.dup_groups": rows["exact_groups"],
            "lsh.rows_out": rows["cand_pairs"],
            "lsh.cand_pairs": rows["cand_pairs"],
            "lsh.bucket_overflow": overflow,
            "confirm.rows_out": rows["near_edges"],
            "confirm.yield": rows["near_edges"] / max(rows["cand_pairs"], 1),
            "substr.rows_out": rows["substr_edges"],
            "substr.anchor_pairs": n_anchor,
            "substr.yield": rows["substr_edges"] / max(n_anchor, 1),
            "components.rows_out": rows["labels"],
            "report.rows_out": summary["n_clusters"],
        },
        "tables": {
            "extract": [f"{run}/docs"],
            "signatures": [f"{run}/signatures"],
            "exact": [f"{run}/exact_groups", f"{run}/exact_edges"],
            "lsh": [f"{run}/cand_pairs"],
            "confirm": [f"{run}/near_edges"],
            "substr": [f"{run}/substr_edges"],
            "components": [f"{run}/edges", f"{run}/labels", f"{run}/clusters"],
            "report": [],
        },
    }


def curate(spark, spans: Spans, docs_path: str, ckpt: str) -> dict:
    """jobs/curate.py main with its default flags on a ``--docs`` table,
    one span per stage."""
    from pyspark.sql import functions as F

    from replicheck_spark.config import DedupConfig
    from replicheck_spark.operators import dedup_ops, textops
    from replicheck_spark.operators.blocks import line_corpus_dedup
    from replicheck_spark.sources.io import TableIO

    cfg = DedupConfig(min_similarity=0.8, shingle_k=5, seed=42)
    io = TableIO(spark, ckpt, "curate")
    rows: dict[str, int] = {}

    def stage(name, df):
        io.write(name, df)
        out = io.read(name)
        rows[name] = out.count()
        return out

    with spans.span("curate.filter"):
        docs0 = spark.read.parquet(docs_path)
        verdicts = textops.corpus_filter(docs0, min_quality=0.5)
        keep = verdicts.filter(
            (F.col("quality") >= 0.5) & ~F.col("repetitive")).select("doc_id")
        filtered = stage("filtered", docs0.join(keep, "doc_id", "left_semi"))
    with spans.span("curate.scrub"):
        clean = textops.pii_scrub(filtered).select("doc_id", "clean_text")
        scrubbed = stage("scrubbed", filtered.drop("text").join(clean, "doc_id")
                         .withColumnRenamed("clean_text", "text"))
    with spans.span("curate.line_dedup"):
        stripped = line_corpus_dedup(scrubbed, min_docs=2, keep_first=True) \
            .select("doc_id", F.col("clean_text"))
        lined = stage("line_dedup", scrubbed.drop("text").join(stripped, "doc_id")
                      .withColumnRenamed("clean_text", "text")
                      .filter(F.trim(F.col("text")) != ""))
    with spans.span("curate.dedup"):
        labels = dedup_ops.cluster_labels(lined, k=5, threshold=0.8,
                                          method="lsh", cfg=cfg, scope_col=None)
        dropped = labels.filter(
            F.col("doc_id") != F.col("cluster_id")).select("doc_id")
        stage("curated", lined.join(dropped, "doc_id", "left_anti"))

    run = f"{ckpt}/curate"
    return {
        "counters": {
            "curate.filter.rows_out": rows["filtered"],
            "curate.scrub.rows_out": rows["scrubbed"],
            "curate.line_dedup.rows_out": rows["line_dedup"],
            "curate.dedup.rows_out": rows["curated"],
        },
        "tables": {
            "curate.filter": [f"{run}/filtered"],
            "curate.scrub": [f"{run}/scrubbed"],
            "curate.line_dedup": [f"{run}/line_dedup"],
            "curate.dedup": [f"{run}/curated"],
        },
    }


def streaming(spark, spans: Spans, batch_paths: list[str], work: str) -> None:
    """Every batch file through ``IncrementalDedup.process_batch``, in order,
    one ``streaming`` span per batch. ``compact_every`` is the batch count,
    so the last batch compacts the store."""
    from replicheck_spark.config import DedupConfig
    from replicheck_spark.streaming.incremental import IncrementalDedup

    inc = IncrementalDedup(spark, f"{work}/store", DedupConfig(),
                           f"{work}/hits", compact_every=len(batch_paths))
    for i, p in enumerate(batch_paths):
        with spans.span("streaming"):
            inc.process_batch(spark.read.parquet(p), i)


def streaming_counters(spans: Spans, store_dir: str, hits: int,
                       store_rows: int) -> dict:
    """Per-batch spans of the incremental workload -> streaming.* counters."""
    walls = [r["end"] - r["start"] for r in spans.rows if r["name"] == "streaming"]
    return {
        "streaming.batch_s": statistics.median(walls[:-1]),
        "streaming.compact_batch_s": walls[-1],
        "streaming.store_rows": store_rows,
        "streaming.store_mb": du_mb(store_dir),
        "streaming.hits": hits,
    }
