"""The benchmark's own tests: a tiny-corpus smoke of every workload, the
tampered-sink check, and the refusal to run outside a checkout.

    python3 -m pytest perfbench/tests -q

Each smoke run starts its own Spark session (about a minute each).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)

SMOKE_PAGES = {"crawl_html": 60, "crawl_text_dirty": 60}


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


def test_workload_names_match_benchmark_json():
    import workloads

    assert sorted(w["name"] for w in BENCH["workloads"]) == sorted(workloads.WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(SMOKE_PAGES))
def test_smoke(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--pages", str(SMOKE_PAGES[workload]))
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == \
        {m["name"]: m["unit"] for m in want}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_shutdown_stops_and_waits_for_every_descendant():
    """A child that ignores SIGTERM and a grandchild left behind when it
    dies are both gone when ``harness.shutdown`` returns."""
    script = f"""
import os, subprocess, sys
sys.path.insert(0, {BENCH_DIR!r})
import harness
harness.become_subreaper()
subprocess.Popen(["sh", "-c", "trap '' TERM; sleep 300 & sleep 300"])
while len(harness.descendants(os.getpid())) < 3:
    pass
pids = sorted(harness.descendants(os.getpid()))
harness.shutdown(grace=0.2)
print(pids, sorted(harness.descendants(os.getpid())))
"""
    p = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True,
                       timeout=120)
    assert p.returncode == 0, p.stderr[-3000:]
    pids, left = json.loads("[" + p.stdout.replace("] [", "], [") + "]")
    assert len(pids) == 3 and left == []
    for pid in pids:
        assert not os.path.exists(f"/proc/{pid}") or \
            open(f"/proc/{pid}/cmdline").read().split("\0")[0] not in ("sh", "sleep")


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "crawl_html", "--seed", "1", "--seconds", "1",
             "--trace", "0")
    assert p.returncode != 0
    assert not p.stdout.strip()


def test_tampered_sink_trips_the_checks(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    import checks
    import harness
    import workloads
    from kgspark.pipeline import runner

    work = str(tmp_path / "work")
    harness.prepare_env(ROOT, work)
    wl = workloads.WORKLOADS["crawl_html"]
    pages_path, rows = workloads.corpus(work, wl, 5, 40)
    cfg = wl.config(40)
    spark = harness.session(work, 2)
    try:
        out = str(tmp_path / "out")
        runner.run_pipeline(spark, pages_path, out, cfg=cfg)
        urls = checks.sample_urls(rows, workloads.tail_urls(rows), 5)
        book = checks.DigestBook(str(tmp_path / "digests"))

        def failures() -> list[str]:
            triples = checks.read_triples(spark, out)
            return book.check("k", checks.triples_digest(triples)) + checks.pr_failures(
                *checks.precision_recall(triples, rows, urls, True, cfg))

        assert failures() == []
        for path in glob.glob(os.path.join(out, "triples", "bucket=*", "*.parquet")):
            table = pq.read_table(path)
            subj = table.column_names.index("subject")
            pq.write_table(table.set_column(
                subj, "subject", pa.array(["tampered"] * table.num_rows)), path)
            crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
        bad = failures()
        assert any("digest" in b for b in bad), bad
        assert any("triple_precision" in b for b in bad), bad
    finally:
        spark.stop()
