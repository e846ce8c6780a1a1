#!/usr/bin/env python3
"""Benchmark of replicheck_spark: oracle-checked workloads, end to end and
layer by layer.

    python3 perfbench/run.py --workload dedup_planted --seed 1 --seconds 30 --trace 0

Run from the repository root. Each sample runs in a fresh interpreter
(``child.py``) on ``local[<cores>]`` and reaches the program only through its
public entry points. ``--trace 0`` measures end to end, with no event log:
samples repeat until ``--seconds`` have passed, set-up included (one sample
on a 4-core machine). ``--trace 1`` runs one traced sample: the dedup
layers, the curation layers and the streaming layer, each span attributed
through Spark's event log, and compares it with the untraced wall of the
workload, program source and seed (recorded by a ``--trace 0`` run, else the
median of the other seeds' walls, else measured by the traced sample after
its traced work).
Every output is checked against the pure-Python oracle. The last stdout line
is the JSON result; the line before it is ``{"meta": ...}`` (host, versions,
seed, samples, source digest, per-sample detail). Inputs and oracle truth
are cached per seed under ``.perfbench/`` in the repository root, and output
digests and untraced walls per program source.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import proctree  # noqa: E402
import traced  # noqa: E402

WORKLOADS = {
    "dedup_planted": {"corpus": "planted", "docs": 300},
    "dedup_dupheavy": {"corpus": "dupheavy", "docs": 300},
}
# The curation and streaming layers of traced runs run on the planted corpus
# of the seed, at this size, whichever the workload: on the dup-heavy corpus
# curation alone took 26 s and pushed traced runs past their time limit.
FOLD_DOCS = 300
# Batch files of each case, fed to the streaming layer in traced runs; the
# store compacts on the last one. A batch costs ~6 s at any size, and a
# traced run that also measures its untraced reference has to end within
# the run's time limit.
BATCHES = 3
MIN_RECALL = 0.99
# seconds from the start of the run: a child still running then is killed
# and fails, so that a run ends within its 180 s limit
RUN_DEADLINE_S = 172
T0 = time.monotonic()

# Per-layer metrics printed for --trace 1. Layer names are the benchmark's
# spans (traced.py); each gets its span wall and the event log's metrics.
_EVENT = {"wall_s": "s", **traced.EVENT_METRICS}
_TABLE = {"rows_out": "count", "ckpt_mb": "MB"}
LAYER_UNITS = {
    **{f"{layer}.{k}": u
       for layer in traced.DEDUP_LAYERS + traced.CURATE_LAYERS
       for k, u in {**_EVENT, **_TABLE}.items()},
    "exact.dup_groups": "count", "lsh.cand_pairs": "count",
    "lsh.bucket_overflow": "count", "confirm.yield": "ratio",
    "substr.anchor_pairs": "count", "substr.yield": "ratio",
    "components.jobs": "count",
    **{f"streaming.{k}": u for k, u in _EVENT.items()},
    "streaming.batch_s": "s", "streaming.compact_batch_s": "s",
    "streaming.store_rows": "count", "streaming.store_mb": "MB",
    "streaming.hits": "count",
    "unattributed_s": "s", "trace_overhead_s": "s",
}
E2E_UNITS = {"docs_per_s": "1/s", "cpu_s_per_kdoc": "s", "setup_s": "s",
             "peak_rss_mb": "MB", "dup_pair_recall": "ratio"}


class SampleFailed(RuntimeError):
    pass


def child_env(work: str) -> dict:
    """Settings from outside the program: cores, heap, import path, and
    every temporary directory inside the checkout."""
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # get_spark defaults to a 48g heap; an eighth of RAM, at most 4g
        "SPARK_GRAFT_DRIVER_MEM": f"{min(_ram_mb() // 8, 4096)}m",
        # Python workers import replicheck_spark by reference
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # every JVM, the launcher's too: temp files in the work dir, and no
        # hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir="
                             + os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    })
    return env


def _ram_mb() -> int:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1]) // 1024


def _stop_group(pgid: int, grace_s: float) -> None:
    """Wait for every process of the sample's group to end; kill after grace."""
    deadline = time.monotonic() + grace_s
    killed = False
    while proctree.group_pids(pgid):
        if not killed and time.monotonic() > deadline:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            killed = True
        time.sleep(0.1)


def sample(case: str, fold: str | None, mode: str, work: str,
           reference: bool = False) -> dict:
    """Run one child interpreter; sample its tree's memory (summed PSS)
    every 0.5 s in the timed region. A sample reads each process's
    smaps_rollup (~10 ms for the JVM), so sampling faster would take CPU
    from the run it measures."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spec = os.path.join(work, "spec.json")
    with open(spec, "w") as f:
        json.dump({"case": case, "fold": fold, "mode": mode, "work": work,
                   "reference": reference}, f)
    on, off = os.path.join(work, "region.on"), os.path.join(work, "region.off")
    peak = 0.0
    t0 = time.monotonic()
    with open(os.path.join(work, "child.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), spec], cwd=work,
            env=child_env(work), stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            while proc.poll() is None:
                if os.path.exists(on) and not os.path.exists(off):
                    peak = max(peak, sum(proctree.pss_mb(pid) for pid in
                                         proctree.tree_pids(proc.pid)))
                if time.monotonic() - T0 > RUN_DEADLINE_S:
                    os.killpg(proc.pid, signal.SIGKILL)
                time.sleep(0.5)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            _stop_group(proc.pid, grace_s=15)
    res_path = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(res_path):
        with open(os.path.join(work, "child.log")) as f:
            tail = f.read()[-3000:]
        raise SampleFailed(f"{mode} sample exited {proc.returncode}:\n{tail}")
    with open(res_path) as f:
        res = json.load(f)
    res["peak_rss_mb"] = peak
    res["elapsed_s"] = time.monotonic() - t0
    return res


# ---- output checks -----------------------------------------------------------
# Each returns (dup_pair_recall, problems); an empty problem list passes.

def _recall(hit: int, pairs: list) -> tuple[float, list[str]]:
    recall = hit / len(pairs) if pairs else 1.0
    if recall < MIN_RECALL:
        return recall, [f"dup_pair_recall {recall:.4f} < {MIN_RECALL}"]
    return recall, []


def check_dedup(out: dict, truth: dict) -> tuple[float, list[str]]:
    """Every oracle pair shares a label; each labeled doc has one cluster."""
    problems = []
    label = dict(out["labels"])
    if len(label) != len(out["labels"]):
        problems.append("a labeled doc has more than one cluster")
    if out["cluster_members"] != len(label):
        problems.append(f"clusters hold {out['cluster_members']} members "
                        f"but {len(label)} docs are labeled")
    pairs = truth["pairs"]
    hit = sum(1 for a, b, _ in pairs if a in label and label.get(b) == label[a])
    recall, low = _recall(hit, pairs)
    return recall, problems + low


def check_curate(out: dict, truth: dict) -> tuple[float, list[str]]:
    """No two survivors are exact duplicates; at most one member of each
    oracle exact or near pair survives."""
    problems = []
    if len(set(out["survivor_text_sha"])) != len(out["survivor_text_sha"]):
        problems.append("two survivors are exact duplicates")
    alive = set(out["survivor_urls"])
    pairs = [p for p in truth["pairs"] if p[2] in ("exact", "near")]
    hit = sum(1 for a, b, _ in pairs if not (a in alive and b in alive))
    recall, low = _recall(hit, pairs)
    return recall, problems + low


def check_streaming(out: dict, truth: dict) -> tuple[float, list[str]]:
    """Each oracle exact or near pair has a member among the hits."""
    flagged = set(out["hit_urls"])
    pairs = [p for p in truth["pairs"] if p[2] in ("exact", "near")]
    return _recall(sum(1 for a, b, _ in pairs
                       if a in flagged or b in flagged), pairs)


CHECKS = {"dedup": check_dedup, "curate": check_curate,
          "streaming": check_streaming}


def check_digest(case: str, kind: str, digest: str, source: str) -> list[str]:
    """One version of the program gives one output per seed, in every run."""
    path = os.path.join(case, f"digest-{kind}-{source[:16]}.txt")
    if not os.path.exists(path):
        with open(path, "w") as f:
            f.write(digest)
        return []
    with open(path) as f:
        want = f.read()
    return [] if want == digest else [
        f"{kind} output differs from an earlier run of this seed "
        f"({digest[:12]} vs {want[:12]})"]


# ---- metadata ----------------------------------------------------------------

def source_digest() -> str:
    h = hashlib.sha256()
    for top in ("replicheck_spark", "jobs"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    p = os.path.join(d, name)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def metadata(args, spec) -> dict:
    from importlib.metadata import version

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "docs": spec["docs"], "host": platform.node(),
        "nproc": len(os.sched_getaffinity(0)), "ram_mb": _ram_mb(),
        "spark": version("pyspark"), "python": platform.python_version(),
        "commit": commit, "source_sha256": source_digest(),
    }


# ---- the run -----------------------------------------------------------------

def measure(cases: dict, truths: dict, seconds: int, trace: bool,
            meta: dict) -> dict | None:
    """--trace 0: untraced samples until ``seconds`` have passed.
    --trace 1: one traced sample, against the recorded untraced walls.

    ``cases``/``truths`` map each output kind to its case directory and
    oracle truth: dedup runs on the workload's case, and in traced runs
    curate and streaming on the planted fold case of the seed."""
    work = os.path.join(STATE, "work", str(os.getpid()))
    source = meta["source_sha256"]
    # untraced walls of this workload and program source, by seed
    walls_file = os.path.join(STATE, f"untraced-{meta['workload']}-"
                             f"{meta['docs']}-{source[:16]}.json")
    walls = {}
    if os.path.exists(walls_file):
        with open(walls_file) as f:
            walls = json.load(f)
    samples, failures, recalls = [], [], []
    attempted = failed = 0
    t_start = time.monotonic()

    def one(mode, own_reference=False):
        nonlocal attempted, failed
        kinds = ["dedup"] if mode == "e2e" else list(CHECKS)
        attempted += len(kinds)
        try:
            res = sample(cases["dedup"], cases.get("curate"), mode, work,
                         own_reference)
        except SampleFailed as exc:
            failed += len(kinds)
            failures.append(str(exc))
            return None
        res["mode"] = mode
        for kind in kinds:
            recall, problems = CHECKS[kind](res[kind], truths[kind])
            problems += check_digest(cases[kind], kind, res[kind]["digest"],
                                     source)
            if kind == "dedup":
                recalls.append(recall)
            if problems:
                failed += 1
                failures.append(f"{mode} {kind}: " + "; ".join(problems))
        if mode == "e2e" and not failures:
            walls[str(meta["seed"])] = res["wall_s"]
            with open(walls_file, "w") as f:
                json.dump(walls, f)
        samples.append(res)
        return res

    if trace:
        # the untraced reference: the wall a --trace 0 run of this workload,
        # program source and seed recorded, else the median of the other
        # seeds' walls. With none recorded, the traced sample runs the
        # untraced operation itself after its traced work, on a warm JVM: a
        # separate untraced sample plus the traced one took 150-175 s on a
        # busy machine, past the run's deadline.
        traced_res = one("trace", own_reference=not walls)
    else:
        # each sample is a fresh interpreter, set-up included: sample until
        # --seconds have passed, and never start one that the last sample's
        # duration says would end after RUN_DEADLINE_S
        while True:
            one("e2e")
            last = samples[-1]["elapsed_s"] if samples else RUN_DEADLINE_S
            if (time.monotonic() - t_start >= seconds
                    or time.monotonic() - T0 + last > RUN_DEADLINE_S
                    or len(failures) > 2):
                break
    shutil.rmtree(work, ignore_errors=True)
    meta.update(samples=len(samples), failures=failures,
                wall_s=[s["wall_s"] for s in samples],
                setup_s=[s["setup_s"] for s in samples])

    if trace:
        if traced_res is None:
            return None
        if str(meta["seed"]) in walls:
            untraced_s, meta["untraced_reference"] = walls[str(meta["seed"])], "seed"
        elif walls:
            untraced_s = statistics.median(walls.values())
            meta["untraced_reference"] = "other seeds"
        else:
            untraced_s = traced_res["reference_wall_s"]
            meta["untraced_reference"] = "same session, after the traced work"
        m = dict(traced_res["layers"])
        m["unattributed_s"] = traced_res["unattributed_s"]
        # the dedup layers against run_dedup: the same work, traced or not
        m["trace_overhead_s"] = traced_res["traced_dedup_s"] - untraced_s
        meta["untraced_wall_s"] = untraced_s
        meta["untraced_seeds"] = len(walls)
        meta["untagged_jobs"] = traced_res["untagged_jobs"]
        meta["spans"] = traced_res["spans"]
        units = LAYER_UNITS
    else:
        if not samples:
            return None
        n = truths["dedup"]["n_docs"]
        med = statistics.median
        m = {
            "docs_per_s": med(n / s["wall_s"] for s in samples),
            "cpu_s_per_kdoc": med(s["cpu_s"] / (n / 1000) for s in samples),
            "setup_s": med(s["setup_s"] for s in samples),
            "peak_rss_mb": med(s["peak_rss_mb"] for s in samples),
            "dup_pair_recall": min(recalls),
        }
        units = E2E_UNITS
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": m[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(
        description=" ".join(__doc__.split("\n\n")[0].split()))
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=30,
                   help="--trace 0: start samples until this many seconds "
                   "have passed, set-up included")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=None,
                   help="override the workload's corpus size (smoke test)")
    args = p.parse_args(argv)

    for need in ("replicheck_spark/__init__.py", "jobs/curate.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)  # the oracle, for inputs.prepare
    spec = dict(WORKLOADS[args.workload])
    if args.docs:
        spec["docs"] = args.docs
    cache = os.path.join(STATE, "cache")
    cases = {"dedup": inputs.prepare(cache, spec["corpus"], spec["docs"],
                                     args.seed, BATCHES)}
    if args.trace:
        fold = inputs.prepare(cache, "planted", args.docs or FOLD_DOCS,
                              args.seed, BATCHES)
        cases.update(curate=fold, streaming=fold)
    truths = {}
    for kind, d in cases.items():
        with open(os.path.join(d, "truth.json")) as f:
            truths[kind] = json.load(f)

    meta = metadata(args, spec)
    out = measure(cases, truths, args.seconds, bool(args.trace), meta)
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(STATE, "results", f"{args.workload}-{args.seed}-"
                           f"t{args.trace}-{stamp}.json"), "w") as f:
        json.dump({"meta": meta, "result": out}, f, indent=1)
    if out is None:
        print("perfbench: no sample completed:\n" + "\n".join(meta["failures"]),
              file=sys.stderr)
        return 1
    print(json.dumps({"meta": {k: v for k, v in meta.items() if k != "spans"}}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
