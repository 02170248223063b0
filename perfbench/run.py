"""kgspark benchmark: ``runner.run_pipeline`` to real sinks on a seeded corpus.

    python3 perfbench/run.py --workload crawl_html --seed 1 --seconds 10 --trace 0

Run from the repository root (any working directory works; the package
root is found from this file).  One invocation is one fresh process:

1. set-up: a Spark session sized from the host (``setup_s`` runs from
   process start to the session being ready);
2. ``--trace 0``: timed ``run_pipeline`` calls on the seed's corpus, each
   into a fresh output directory, until ``--seconds`` have passed (at
   least one call).  The first call runs in a cold JVM, as a batch job
   started with ``kgspark.run`` does; every call's output is checked;
   ``--trace 1``: with the Spark event log on, a cold and a warm call,
   then a traced replay of the same work, layer by layer (tracing.py);
3. prints ``metric <name> <value> <unit>`` lines, a
   ``perfbench-record {...}`` line with the host stamp, corpus and
   check details, and as the last line the result object
   ``{"correct", "attempted", "failed", "metrics"}``.

``attempted``/``failed`` count url-hash buckets; a call that raises
counts all its buckets as failed.  Exit code 0 when every check passed,
1 when a check failed, 2 when the checkout cannot run the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# name -> unit, in output order
END_TO_END = {"job_s": "s", "pages_per_s": "pages/s", "triples_per_s": "triples/s",
              "setup_s": "s", "peak_rss_mb": "MB", "output_mb": "MB"}


def _fail_setup(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _parse(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pages", type=int, default=None,
                   help="corpus size override (smoke tests); default: the workload's")
    return p.parse_args(argv)


def _check_output(spark, out_dir, ctx, first: bool) -> tuple[str, list[str], dict]:
    """Digest + workload checks on one call's sink; the sample checks run
    on the ``first`` call only."""
    import checks

    triples = checks.read_triples(spark, out_dir)
    digest = checks.triples_digest(triples)
    bad = ctx["book"].check(ctx["key"], digest)
    extra: dict = {}
    if first and ctx["wl"].from_html:
        urls = checks.sample_urls(ctx["rows"], ctx["tail"], ctx["seed"])
        p, r = checks.precision_recall(triples, ctx["rows"], urls, True, ctx["cfg"])
        extra.update(triple_precision=p, triple_recall=r, pr_sample_urls=len(urls))
        bad += checks.pr_failures(p, r)
    if first and ctx["cfg"].page_dedup_enabled:
        bad += checks.duplicate_survivors(triples, ctx["rows"])
    return digest, bad, extra


def _call(spark, ctx, out_dir):
    from kgspark.pipeline import runner

    shutil.rmtree(out_dir, ignore_errors=True)
    t = time.perf_counter()
    res = runner.run_pipeline(spark, ctx["pages_path"], out_dir, cfg=ctx["cfg"],
                              from_html=ctx["wl"].from_html)
    return time.perf_counter() - t, res


def timed(spark, sampler, ctx, seconds: float, run_dir: str) -> dict:
    import harness

    calls, digests, bad, extra = [], set(), [], {}
    attempted = failed = 0
    start = time.perf_counter()
    while not calls or time.perf_counter() - start < seconds:
        out_dir = os.path.join(run_dir, f"call{len(calls)}")
        sampler.open_window()
        t = time.perf_counter()
        try:
            job_s, res = _call(spark, ctx, out_dir)
        except Exception as exc:  # a failed call is a result, not a crash
            job_s = time.perf_counter() - t
            n = ctx["cfg"].num_buckets
            res = {"buckets": n, "failed_buckets": n, "pages": 0, "triples": 0, "seconds": 0.0}
            bad.append(f"run_pipeline raised {type(exc).__name__}: {exc}"[:500])
        rss = sampler.close_window()
        attempted += res["buckets"]
        failed += res["failed_buckets"]
        files, size = harness.tree_size(out_dir)
        if not bad:
            digest, why, more = _check_output(spark, out_dir, ctx, not calls)
            digests.add(digest)
            bad += why
            extra.update(more)
        calls.append({"job_s": job_s, "pages": res["pages"], "triples": res["triples"],
                      "peak_rss_mb": rss, "output_mb": size / harness.MB,
                      "files": files, "reported_s": res["seconds"]})
        shutil.rmtree(out_dir, ignore_errors=True)
        if bad:
            break
    if len(digests) > 1:
        bad.append(f"calls in one run disagree: {sorted(digests)}")
    if failed:
        bad.append(f"{failed} of {attempted} buckets failed")
    job_s = statistics.median(c["job_s"] for c in calls)
    metrics = {"job_s": job_s}
    for name, key in (("pages_per_s", "pages"), ("triples_per_s", "triples")):
        metrics[name] = statistics.median(c[key] for c in calls) / job_s
    for name in ("peak_rss_mb", "output_mb"):
        metrics[name] = statistics.median(c[name] for c in calls)
    extra["failed_bucket_ratio"] = failed / attempted if attempted else 1.0
    return {"metrics": metrics, "attempted": max(attempted, 1), "failed": failed,
            "bad": bad, "calls": calls, "digest": sorted(digests), "extra": extra}


def traced(spark, ctx, run_dir: str) -> dict:
    """A cold ``run_pipeline`` call as in a timed run, a second, warm call
    (its digest is the one the replay must reproduce, its time the
    untraced reference for the replay), then the traced replay; for the
    html workload also the resume check.  The event log is folded after
    the session stops."""
    import checks
    import harness
    import tracing

    bad = []
    times, results = [], []
    for k, desc in enumerate(("run_pipeline.cold", "run_pipeline.warm")):
        spark.sparkContext.setJobDescription(desc)
        job_s, res = _call(spark, ctx, os.path.join(run_dir, f"plain{k}"))
        times.append(job_s)
        results.append(res)
        if res["failed_buckets"]:
            bad.append(f"{res['failed_buckets']} of {res['buckets']} buckets failed")
    spark.sparkContext.setJobDescription(None)
    plain_dir, res = os.path.join(run_dir, "plain1"), results[1]
    files, size = harness.tree_size(plain_dir)
    digest, why, _ = _check_output(spark, plain_dir, ctx, False)
    bad += why

    tracer = tracing.Tracer(spark)
    t = time.perf_counter()
    out, counters = tracing.replay(spark, tracer, ctx["pages_path"],
                                   os.path.join(run_dir, "replay"), ctx["cfg"],
                                   ctx["wl"].from_html)
    replay_s = time.perf_counter() - t - tracer.wall(tracing.COUNTERS_DESC)
    replay_digest = checks.triples_digest(out)
    if replay_digest != digest:
        bad.append(f"replay digest {replay_digest} != run_pipeline digest {digest}")
    if ctx["wl"].from_html:
        # last: it rewrites the warm call's output
        ratio, why = resume_check(spark, ctx, plain_dir, digest)
        counters["resume.pending_ratio"] = ratio
        bad += why
    counters.update({
        "sink.files": float(files),
        "sink.bytes_per_triple": size / max(res["triples"], 1),
        "sink.unreported_s": times[1] - res["seconds"],
        "cold_overhead_s": times[0] - times[1],
        "trace_overhead_ratio": replay_s / times[1] - 1.0,
    })
    return {"tracer": tracer, "counters": counters, "bad": bad, "job_s": times,
            "replay_s": replay_s, "digest": [digest],
            "attempted": sum(r["buckets"] for r in results) or 1,
            "failed": sum(r["failed_buckets"] for r in results)}


RESUME_DONE_BUCKETS = 48


def resume_check(spark, ctx, out_dir: str, want: str) -> tuple[float, list[str]]:
    """A killed run resumed.  ``out_dir`` holds a complete run; its
    manifest keeps only the rows of buckets below RESUME_DONE_BUCKETS, as
    if the job died after writing the other buckets' files but before
    their manifest rows landed.  A rerun on the whole corpus must rewrite
    those buckets, not duplicate them, and end at the uninterrupted
    digest.  Returns the share of pages the resumed call processed."""
    import glob

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    import checks
    from kgspark.pipeline import runner

    manifests = os.path.join(out_dir, "manifests")
    kept = pq.read_table(manifests)
    kept = kept.filter(pc.less(kept["bucket"], RESUME_DONE_BUCKETS))
    for f in glob.glob(os.path.join(manifests, "*")) + glob.glob(os.path.join(manifests, ".*")):
        os.remove(f)
    pq.write_table(kept, os.path.join(manifests, "part-00000-resumed.parquet"))
    spark.sparkContext.setJobDescription("resume.tail")
    res = runner.run_pipeline(spark, ctx["pages_path"], out_dir, cfg=ctx["cfg"],
                              from_html=ctx["wl"].from_html)
    spark.sparkContext.setJobDescription(None)
    got = checks.triples_digest(checks.read_triples(spark, out_dir))
    bad = [] if got == want else [f"resumed digest {got} != uninterrupted {want}"]
    if res["failed_buckets"]:
        bad.append(f"resume: {res['failed_buckets']} of {res['buckets']} buckets failed")
    return res["pages"] / len(ctx["rows"]), bad


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    if not os.path.isfile(os.path.join(ROOT, "kgspark", "pipeline", "runner.py")) or \
            not os.path.isfile(os.path.join(ROOT, "tests", "oracle", "refsem.py")):
        _fail_setup(f"no kgspark checkout at {ROOT}: the benchmark runs from the repository")
    import harness

    t_start = harness.process_start_epoch()
    harness.become_subreaper()
    # a terminated run still stops the JVM and the Python workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return _main(argv, t_start)
    finally:
        harness.shutdown()


def _main(argv, t_start: float) -> int:
    import harness

    harness.prepare_env(ROOT, WORK)
    args = _parse(argv)

    import checks
    import workloads

    wl = workloads.WORKLOADS[args.workload]
    pages = args.pages or wl.pages
    cfg = wl.config(pages)
    cpus = harness.host_cpus()
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    spark = harness.session(WORK, cpus, event_log_dir=event_dir)
    setup_s = time.time() - t_start
    try:
        with harness.TreeRssSampler() as sampler:
            stamp = harness.host_stamp(spark)
            pages_path, rows = workloads.corpus(WORK, wl, args.seed, pages)
            ctx = {"wl": wl, "cfg": cfg, "seed": args.seed, "rows": rows,
                   "tail": workloads.tail_urls(rows), "pages_path": pages_path,
                   "key": f"{wl.name}-s{args.seed}-n{pages}",
                   "book": checks.DigestBook(os.path.join(WORK, "digests"))}
            if args.trace:
                res = traced(spark, ctx, run_dir)
            else:
                res = timed(spark, sampler, ctx, args.seconds, run_dir)
    finally:
        harness.shutdown(spark)

    if args.trace:
        import tracing

        logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
        folded = tracing.fold_event_log(logs[0])
        metrics = tracing.layer_metrics(res["tracer"], folded, res["counters"])
        units = dict(tracing.PER_LAYER)
        record_extra = {"spans": res["tracer"].spans, "folded": folded,
                        "plain_job_s": res["job_s"], "replay_s": res["replay_s"]}
    else:
        metrics = dict(res["metrics"], setup_s=setup_s)
        metrics = {k: metrics[k] for k in END_TO_END}
        units = END_TO_END
        record_extra = dict(res["extra"], calls=res["calls"])
    shutil.rmtree(run_dir, ignore_errors=True)

    correct = not res["bad"]
    for name, value in metrics.items():
        print(f"metric {name} {value:.6g} {units[name]}")
    for name in ("triple_precision", "triple_recall", "failed_bucket_ratio"):
        if name in record_extra:
            print(f"check {name} {record_extra[name]:.6g} ratio")
    for why in res["bad"]:
        print(f"perfbench: CHECK FAILED: {why}", file=sys.stderr)
    record = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "setup_s": setup_s, "host": stamp,
              "corpus": dict(workloads.describe(rows), key=ctx["key"]),
              "digest": res["digest"], "failures": res["bad"], **record_extra}
    print("perfbench-record " + json.dumps(record, default=float))
    print(json.dumps({
        "correct": correct, "attempted": int(res["attempted"]), "failed": int(res["failed"]),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
