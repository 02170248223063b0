"""Traced replay of ``runner.run_pipeline``, one span per layer.

The replay calls the same public layer functions ``run_pipeline`` runs,
in the same order and with the same configuration; the sink steps, which
``run_pipeline`` does inline, are repeated as written there.  Each span sets the
Spark job description to its layer name and ends by materializing its
output with ``localCheckpoint(eager=True)``, the barrier
``build_triples`` itself uses, so every Spark task is attributable to
one layer.  The replay's triples must equal the untraced call's: its
digest is checked against it.

Task metrics come from the Spark event log (uncompressed, non-rolling),
folded by job description: task CPU, JVM GC, Python-worker time, Arrow
bytes to/from Python, shuffle read/write, spill and peak execution
memory.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, functions as F

from kgspark.pipeline import extraction, inference, ingest, linking, runner, standardize
from kgspark.ops import textstats

LAYERS = ("ingest", "dedup", "quality", "extract", "standardize", "infer",
          "linking", "sink", "resume")
GENERIC = (("wall_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"), ("python_s", "s"),
           ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
           ("peak_exec_mem_mb", "MB"), ("rows_in", "rows"), ("rows_out", "rows"))
SPECIFIC = (("ingest.partition_skew", "ratio"), ("dedup.kept_ratio", "ratio"),
            ("quality.kept_ratio", "ratio"), ("extract.arrow_to_python_mb", "MB"),
            ("extract.arrow_from_python_mb", "MB"), ("linking.candidate_pairs", "count"),
            ("linking.verified_ratio", "ratio"), ("sink.files", "count"),
            ("sink.bytes_per_triple", "B"), ("sink.unreported_s", "s"),
            ("resume.pending_ratio", "ratio"), ("cold_overhead_s", "s"),
            ("trace_overhead_ratio", "ratio"))
# the per-layer metric names and units, in output order
PER_LAYER = tuple((f"{layer}.{name}", unit) for layer in LAYERS for name, unit in GENERIC) \
    + SPECIFIC

COUNTERS_DESC = "perfbench.counters"
MB = 1024 * 1024


class Tracer:
    """Spans (name, start, end, parent) kept in memory; each span is also
    the Spark job description of the work inside it."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.rows: dict[str, tuple[int, int]] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._sc.setJobDescription(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self._sc.setJobDescription(self._stack[-1] if self._stack else None)
            self.spans.append({"name": name, "start": start, "end": end, "parent": parent})

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


def _cut(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def _completed_buckets(spark, manifest_path: str) -> DataFrame:
    """Buckets with a successful ``triples`` manifest row: the resume
    anti-join side, read the way ``run_pipeline`` reads it."""
    try:
        m = spark.read.schema(runner.MANIFEST_SCHEMA).parquet(manifest_path)
    except AnalysisException:
        return spark.createDataFrame([], "bucket int")
    return (m.filter((F.col("stage") == "triples") & (F.col("status") == "success"))
            .select("bucket").distinct())


def _quality_gate(pages: DataFrame) -> DataFrame:
    """The Gopher repetition gate as ``build_triples`` applies it."""
    txt = F.coalesce(F.col("text"), F.lit(""))
    cjk_ratio = textstats.cjk_char_count(txt) / F.greatest(F.length(txt), F.lit(1))
    gated = pages.withColumn("_qt", txt).filter(cjk_ratio <= 0.05)
    keep = (
        textstats.repetition_signals(gated, "url", "_qt")
        .filter(textstats.gopher_keep(min_words=50))
        .select("url")
        .union(pages.filter(cjk_ratio > 0.05).select("url"))
    )
    return pages.join(keep, "url", "left_semi")


def replay(spark, tracer: Tracer, pages_path: str, out_dir: str, cfg,
           from_html: bool) -> tuple[DataFrame, dict]:
    """run_pipeline's work, span by span.  Returns the final triples
    (materialized) and the layer counters measured on the way."""
    counters: dict[str, float] = {}
    rows = tracer.rows
    with tracer.span("resume"):
        done = _cut(_completed_buckets(spark, os.path.join(out_dir, "manifests")))
    with tracer.span("ingest"):
        raw = ingest.read_pages(spark, pages_path)
        pages = ingest.with_bucket(raw, cfg.num_buckets)
        pages = pages.join(done, "bucket", "left_anti")
        pages = _cut(ingest.repartition_salted(pages, cfg))
        n_raw, n_pages = raw.count(), pages.count()
        rows["ingest"] = (n_raw, n_pages)
    pending = pages
    # the resume layer's rows: pages read, pages still pending
    rows["resume"] = (n_raw, n_pages)
    counters["resume.pending_ratio"] = n_pages / max(n_raw, 1)

    if cfg.page_dedup_enabled:
        with tracer.span("dedup"):
            kept = _cut(runner.dedup_pages(pages, from_html=from_html))
            rows["dedup"] = (pages.count(), kept.count())
            pages = kept
        counters["dedup.kept_ratio"] = rows["dedup"][1] / max(rows["dedup"][0], 1)
    if cfg.quality_filter_enabled and "text" in pages.columns:
        with tracer.span("quality"):
            kept = _cut(_quality_gate(pages))
            rows["quality"] = (pages.count(), kept.count())
            pages = kept
        counters["quality.kept_ratio"] = rows["quality"][1] / max(rows["quality"][0], 1)

    with tracer.span("extract"):
        out = _cut(extraction.extract_pipeline_fused(
            pages, cfg.chunk_size, cfg.overlap, from_html=from_html, t2s=cfg.t2s_enabled))
        rows["extract"] = (pages.count(), out.count())
    if cfg.standardization_enabled:
        with tracer.span("standardize"):
            n_in = out.count()
            out = _cut(standardize.standardize(
                out, broadcast_map=2 * n_in <= cfg.broadcast_map_max_rows,
                max_broadcast_rows=cfg.broadcast_map_max_rows))
            rows["standardize"] = (n_in, out.count())
    if cfg.inference_enabled:
        with tracer.span("infer"):
            n_in = out.count()
            out = _cut(inference.infer(out))
            rows["infer"] = (n_in, out.count())
    if cfg.lsh_linking_enabled:
        with tracer.span("linking"):
            n_in = out.count()
            linked = _cut(linking.apply_linking(
                out, linking.link_entities(out, cfg),
                max_broadcast_rows=cfg.broadcast_map_max_rows))
            rows["linking"] = (n_in, linked.count())
        counters.update(_linking_counters(spark, tracer, out, cfg))
        out = linked

    with tracer.span("sink"):
        n_out = _sink(spark, out, pending, out_dir, cfg)
        rows["sink"] = (out.count(), n_out)

    with tracer.span(COUNTERS_DESC):
        sizes = [r["n"] for r in pending.groupBy(F.spark_partition_id().alias("p"))
                 .agg(F.count(F.lit(1)).alias("n")).collect()]
    counters["ingest.partition_skew"] = max(sizes) / statistics.median(sizes) if sizes else 0.0
    return out, counters


def _write_buckets(df: DataFrame, path: str) -> None:
    (df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy("bucket").parquet(path))


def _sink(spark, triples: DataFrame, pages: DataFrame, out_dir: str, cfg) -> int:
    """The sink work ``run_pipeline`` does after ``build_triples``
    (runner._process_group and the entities/edges merge after it): the
    bucket-partitioned triples, per-bucket mention/edge partials, the
    manifest append, and entities/edges merged from the partials.
    Returns the triples written."""
    in_per_bucket = {r["bucket"]: r["cnt"] for r in
                     pages.groupBy("bucket").agg(F.count("*").alias("cnt")).collect()}
    bucketed = triples.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(cfg.num_buckets)).cast("int")).persist()
    _write_buckets(bucketed, os.path.join(out_dir, "triples"))
    per_bucket = {r["bucket"]: r["n"] for r in
                  bucketed.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
    _write_buckets(
        bucketed.select("bucket", F.explode(F.array("subject", "object")).alias("entity"))
        .groupBy("bucket", "entity").agg(F.count("*").alias("mentions")),
        os.path.join(out_dir, "mention_partials"))
    _write_buckets(
        bucketed.select("bucket", F.col("subject").alias("src"), F.col("object").alias("dst"),
                        "predicate", "inferred").distinct(),
        os.path.join(out_dir, "edge_partials"))
    bucketed.unpersist()
    now = time.time()
    manifest = [("replay", "triples", int(b), int(n), int(per_bucket.get(b, 0)), now, now,
                 "success", None) for b, n in in_per_bucket.items()]
    spark.createDataFrame(manifest, runner.MANIFEST_SCHEMA).write.mode("append").parquet(
        os.path.join(out_dir, "manifests"))

    mp = spark.read.parquet(os.path.join(out_dir, "mention_partials"))
    ep = spark.read.parquet(os.path.join(out_dir, "edge_partials"))
    edges = ep.select("src", "dst", "predicate", "inferred").distinct()
    mentions = mp.groupBy("entity").agg(F.sum("mentions").alias("mentions"))
    und = (edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
           .union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))).distinct())
    deg = und.groupBy(F.col("a").alias("entity")).agg(F.count("*").alias("degree"))
    mentions.join(deg, "entity", "left").na.fill({"degree": 0}).write.mode("overwrite") \
        .parquet(os.path.join(out_dir, "entities"))
    edges.write.mode("overwrite").parquet(os.path.join(out_dir, "edges"))
    return sum(per_bucket.values())


def _linking_counters(spark, tracer: Tracer, triples: DataFrame, cfg) -> dict:
    """LSH candidate pairs and the share that verification keeps,
    measured outside the linking span."""
    with tracer.span(COUNTERS_DESC):
        ents = triples.select(F.explode(F.array("subject", "object")).alias("entity")) \
            .distinct()
        cands = _cut(linking.lsh_candidate_pairs(ents, "entity", cfg))
        n_cand = cands.count()
        n_ver = linking.verify_jaccard(cands, cfg.lsh_jaccard_threshold).count() \
            if cfg.lsh_verify == "jaccard" else \
            linking.verify_tfidf_cosine(cands, ents, cfg.lsh_tfidf_threshold).count()
    return {"linking.candidate_pairs": float(n_cand),
            "linking.verified_ratio": n_ver / n_cand if n_cand else 0.0}


# --- event log ---------------------------------------------------------------

# "time to run Python workers" only: on a reused worker the start/initialize
# metrics report the worker's age, not work done for the task
_PY_RUN = "time to run Python workers"


def fold_event_log(path: str) -> dict[str, dict[str, float]]:
    """Sum task-end metrics by job description.  Stages map to the
    description of the job that submitted them."""
    stage_desc: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                # descriptions Spark sets itself (file listings) carry paths
                desc = "spark.internal" if "/" in desc else desc
                for sid in ev.get("Stage IDs", ()):
                    stage_desc.setdefault(sid, desc)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                acc = {}
                for a in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    name = a.get("Name")
                    if name == _PY_RUN or (name or "").startswith("data "):
                        acc[name] = acc.get(name, 0) + int(a.get("Update") or 0)
                d = out.setdefault(stage_desc.get(ev.get("Stage ID"), ""), {
                    "tasks": 0, "task_cpu_s": 0.0, "gc_s": 0.0, "python_s": 0.0,
                    "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
                    "peak_exec_mem_mb": 0.0, "arrow_to_python_mb": 0.0,
                    "arrow_from_python_mb": 0.0})
                sr = m.get("Shuffle Read Metrics") or {}
                d["tasks"] += 1
                d["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                d["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                d["python_s"] += acc.get(_PY_RUN, 0) / 1e3
                d["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                         + sr.get("Local Bytes Read", 0)) / MB
                d["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0) / MB
                d["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
                d["peak_exec_mem_mb"] = max(d["peak_exec_mem_mb"],
                                            m.get("Peak Execution Memory", 0) / MB)
                d["arrow_to_python_mb"] += acc.get("data sent to Python workers", 0) / MB
                d["arrow_from_python_mb"] += acc.get("data returned from Python workers", 0) / MB
    return out


def layer_metrics(tracer: Tracer, folded: dict, counters: dict) -> dict[str, float]:
    """Every per-layer metric; a layer the workload does not run reads 0."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        d = folded.get(layer, {})
        rin, rout = tracer.rows.get(layer, (0, 0))
        for name, _ in GENERIC:
            if name == "wall_s":
                v = tracer.wall(layer)
            elif name == "rows_in":
                v = rin
            elif name == "rows_out":
                v = rout
            else:
                v = d.get(name, 0.0)
            out[f"{layer}.{name}"] = float(v)
    ext = folded.get("extract", {})
    out["extract.arrow_to_python_mb"] = ext.get("arrow_to_python_mb", 0.0)
    out["extract.arrow_from_python_mb"] = ext.get("arrow_from_python_mb", 0.0)
    for name, _ in SPECIFIC:
        out.setdefault(name, float(counters.get(name, 0.0)))
    return out
