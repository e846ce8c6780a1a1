"""Seeded workload inputs and their oracle truth, cached per (corpus, size, seed).

The program under test only ever sees the parquet written here. Truth comes
from the pure-Python oracle (``replicheck_spark.oracle.run_oracle``) and is
computed once per case, outside every timed region: it is quadratic in the
near-duplicate family sizes and costs more than the Spark run on the
dup-heavy corpus.

``dedup_dupheavy`` corpus: about 80% of the docs form families of 20-60
chained near-copies, each copy its predecessor with 2 random token
substitutions, 100-200 tokens long, so neighbours sit near Jaccard 0.85 and
a family is one long chain. The other ~20% are unique docs behind one shared
40-token boilerplate prefix, which fills a few LSH band buckets without
forming pairs above the threshold.

The family sizes cycle through 20..60 and each family's smallest doc id (the
pipeline's ``xxhash64(url)``) is moved to the middle of its chain, so every
seed asks connected components for the same number of label-propagation
rounds: with the sizes drawn and the minimum left where it fell, the round
count, and with it the wall, moved with the seed.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import re
import shutil
from datetime import datetime, timedelta, timezone

# Disjoint from the planted corpus vocabulary, and large enough that two
# independent docs share almost no 5-token shingle.
_VOCAB = [f"t{i:04d}" for i in range(2000)]
_HOSTS = [f"site{i}.example" for i in range(12)]
_BASE_TS = datetime(2025, 6, 1, tzinfo=timezone.utc)
FAMILY_SIZES = (20, 30, 40, 50, 60)
_HOST_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/]+)")  # extract_docs' host


_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_P4, _P5 = 9650029242287828579, 2870177450012600261
_M = 2**64 - 1


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc, lane):
    return _rotl((acc + lane * _P2) & _M, 31) * _P1 & _M


def xxhash64(s: str, seed: int = 42) -> int:
    """XXH64 of the UTF-8 bytes as a signed long: Spark's ``xxhash64``."""
    data = s.encode("utf-8")
    n, i = len(data), 0

    def word(j, w=8):
        return int.from_bytes(data[j:j + w], "little")

    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while i + 32 <= n:
            v = [_round(v[k], word(i + 8 * k)) for k in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, word(i)), 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (word(i, 4) * _P1 & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = _rotl(h ^ (data[i] * _P5 & _M), 11) * _P1 & _M
        i += 1
    h = (h ^ (h >> 33)) * _P2 & _M
    h = (h ^ (h >> 29)) * _P3 & _M
    h ^= h >> 32
    return h - 2**64 if h >= 2**63 else h


def generate_dupheavy(n_docs: int, seed: int) -> list[dict]:
    """Pages rows (url, warc_ts, html, text, lang) of the dup-heavy corpus."""
    rng = random.Random(seed)
    rows: list[dict] = []

    def add(tokens: list[str]) -> None:
        no = len(rows)
        text = " ".join(tokens)
        rows.append({
            "url": f"https://{rng.choice(_HOSTS)}/d/{no:07d}",
            "warc_ts": _BASE_TS + timedelta(seconds=no * 13 + rng.randrange(7)),
            "html": f"<html><body>{text}</body></html>".encode("utf-8"),
            "text": text,
            "lang": "en",
        })

    n_family = int(n_docs * 0.8)
    sizes = itertools.cycle(FAMILY_SIZES)
    while len(rows) < n_family:
        size = min(next(sizes), n_family - len(rows))
        if size < 2:
            break
        start = len(rows)
        cur = [rng.choice(_VOCAB) for _ in range(rng.randint(100, 200))]
        add(cur)
        for _ in range(size - 1):
            cur = list(cur)
            for pos in rng.sample(range(len(cur)), 2):
                cur[pos] = rng.choice(_VOCAB)
            add(cur)
        fam = rows[start:]
        low = min(fam, key=lambda r: xxhash64(r["url"]))
        mid = fam[len(fam) // 2]
        low["url"], mid["url"] = mid["url"], low["url"]

    prefix = [rng.choice(_VOCAB) for _ in range(40)]
    while len(rows) < n_docs:
        add(prefix + [rng.choice(_VOCAB) for _ in range(rng.randint(100, 200))])
    return rows


def write_pages(path: str, rows: list[dict]) -> None:
    """Write pages rows in ``corpus.write_pages_parquet``'s schema, with
    ``warc_ts`` as ``timestamp[us]``: Spark 4.1 rejects pandas' default
    nanosecond parquet timestamps."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])
    cols = {name: [r[name] for r in rows] for name in schema.names}
    cols["warc_ts"] = [ts.replace(tzinfo=None) for ts in cols["warc_ts"]]
    pq.write_table(pa.table(cols, schema=schema), path)


def write_docs(path: str, rows: list[dict], norm_texts: dict[str, str]) -> None:
    """The docs table ``extract_docs`` would give, in the columns
    ``jobs/curate.py`` reads: doc_id = ``xxhash64(url)``, the normalized
    text, lang, and the url's host as source."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "doc_id": pa.array([xxhash64(r["url"]) for r in rows], pa.int64()),
        "text": [norm_texts[r["url"]] for r in rows],
        "lang": [r["lang"] for r in rows],
        "source": [_HOST_RE.match(r["url"]).group(1).lower() for r in rows],
    }), path)


def _rows(corpus: str, n_docs: int, seed: int) -> list[dict]:
    if corpus == "planted":
        from replicheck_spark.corpus import generate_pages

        return generate_pages(n_docs=n_docs, seed=seed)[0]
    if corpus == "dupheavy":
        return generate_dupheavy(n_docs, seed)
    raise ValueError(f"unknown corpus {corpus!r}")


def prepare(cache_root: str, corpus: str, n_docs: int, seed: int,
            batches: int) -> str:
    """Build (or reuse) one case directory and return its path.

    The case holds ``pages.parquet`` (the planted rows come from
    ``corpus.generate_pages``, the generator behind
    ``corpus.write_pages_parquet``), ``batches/NNN.parquet`` (the rows
    shuffled by the seed and split in order into ``batches`` files),
    ``docs.parquet`` (``jobs/curate.py --docs`` input: doc_id, the oracle's
    normalized text, lang, host as source) and ``truth.json`` with the
    oracle's pairs as ``[url_a, url_b, kind]``.
    """
    case = os.path.join(cache_root, f"{corpus}-{n_docs}-{seed}-b{batches}")
    if os.path.exists(os.path.join(case, "truth.json")):
        return case
    tmp = f"{case}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "batches"))
    rows = _rows(corpus, n_docs, seed)
    write_pages(os.path.join(tmp, "pages.parquet"), rows)
    order = list(rows)
    random.Random(seed).shuffle(order)
    step = -(-len(order) // batches)
    for i in range(batches):
        write_pages(os.path.join(tmp, "batches", f"{i:03d}.parquet"),
                    order[i * step:(i + 1) * step])

    from replicheck_spark.oracle import run_oracle

    truth = run_oracle(rows)
    write_docs(os.path.join(tmp, "docs.parquet"), rows, truth.norm_texts)
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump({"n_docs": len(rows),
                   "pairs": [[a, b, kind] for a, b, kind, _ in truth.pairs]}, f)
    shutil.rmtree(case, ignore_errors=True)
    os.replace(tmp, case)
    return case
