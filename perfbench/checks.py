"""Correctness checks on the pipeline's sinks.  Each returns a list of
failure messages; an empty list means the check passed.

* ``triples_digest``: an order-independent digest of the triples
  multiset, so outputs can be compared across partitionings and runs.
* ``precision_recall``: triples of a seeded url sample against the
  reference-semantics oracle (``tests/oracle/refsem``) fed by the same
  deterministic phase-1 kernels, driver-side.
* ``DigestBook``: per (workload, seed, pages) digests kept across runs,
  so a later run that disagrees with an earlier one fails.
* ``duplicate_survivors``: no two surviving urls share a content hash.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

from pyspark.sql import DataFrame, functions as F

TRIPLE_COLS = ("url", "subject", "predicate", "object", "inferred", "chunk", "seq")
MIN_PR = 0.95


def triples_digest(triples: DataFrame) -> str:
    """count + two 28-bit sums of per-row md5 slices: equal multisets give
    equal digests whatever the row order or file layout."""
    row = F.md5(F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in TRIPLE_COLS]))
    part = lambda lo: F.conv(F.substring(row, lo, 7), 16, 10).cast("long")  # noqa: E731
    r = triples.agg(F.count(F.lit(1)).alias("n"), F.sum(part(1)).alias("a"),
                    F.sum(part(8)).alias("b")).first()
    return f"{r['n']}-{(r['a'] or 0):x}-{(r['b'] or 0):x}"


def read_triples(spark, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "triples"))


def _oracle_triples(html: bytes | None, text: str | None, from_html: bool,
                    cfg) -> set[tuple]:
    from kgspark.kernels.html_extract import extract_text
    from kgspark.kernels.textproc import chunk_text
    from kgspark.kernels.triple_extract import extract_triples
    from tests.oracle import refsem

    doc = extract_text(html) if from_html else (text or "")
    raw = []
    for ci, chunk in enumerate(chunk_text(doc, max_length=cfg.chunk_size,
                                          overlap=cfg.overlap), start=1):
        for t in extract_triples(chunk):
            raw.append({**t, "chunk": ci})
    return refsem.canon(refsem.infer(refsem.standardize(raw)))


def sample_urls(rows: list[tuple], tail: list[str], seed: int,
                n_clean: int = 36, n_tail: int = 6) -> list[str]:
    rng = random.Random(f"sample-{seed}")
    tail_set = set(tail)
    clean = [r[0] for r in rows if r[0] not in tail_set]
    return rng.sample(clean, min(n_clean, len(clean))) + \
        rng.sample(tail, min(n_tail, len(tail)))


def precision_recall(triples: DataFrame, rows: list[tuple], urls: list[str],
                     from_html: bool, cfg) -> tuple[float, float]:
    """Micro-averaged triple precision and recall over ``urls``."""
    by_url = {r[0]: r for r in rows}
    got = {
        (r["url"], r["subject"], r["predicate"], r["object"], bool(r["inferred"]))
        for r in triples.filter(F.col("url").isin(urls))
        .select("url", "subject", "predicate", "object", "inferred").collect()
    }
    want = set()
    for u in urls:
        _, _, html, text, _ = by_url[u]
        want |= {(u, *t) for t in _oracle_triples(html, text, from_html, cfg)}
    hit = len(got & want)
    precision = hit / len(got) if got else float(not want)
    recall = hit / len(want) if want else float(not got)
    return precision, recall


def pr_failures(precision: float, recall: float) -> list[str]:
    return [f"triple_{k} {v:.4f} < {MIN_PR}" for k, v in
            (("precision", precision), ("recall", recall)) if v < MIN_PR]


def duplicate_survivors(triples: DataFrame, rows: list[tuple]) -> list[str]:
    """Page dedup keeps one url per content: surviving urls (those with
    triples) must have pairwise distinct content hashes."""
    content = {r[0]: hashlib.md5(r[2] if r[2] is not None else (r[3] or "").encode()).hexdigest()
               for r in rows}
    seen: dict[str, str] = {}
    bad = []
    for r in triples.select("url").distinct().collect():
        h = content[r["url"]]
        if h in seen:
            bad.append(f"duplicate content survived: {seen[h]} and {r['url']}")
        seen[h] = r["url"]
    return bad[:5]


class DigestBook:
    """Digests of earlier runs, one file per key, under ``path``."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def check(self, key: str, digest: str) -> list[str]:
        f = os.path.join(self.path, f"{key}.json")
        try:
            with open(f) as fh:
                want = json.load(fh)["digest"]
        except FileNotFoundError:
            tmp = f"{f}.tmp{os.getpid()}"
            with open(tmp, "w") as fh:
                json.dump({"digest": digest}, fh)
            os.replace(tmp, f)
            return []
        return [] if want == digest else [f"digest {digest} != earlier run's {want} ({key})"]
