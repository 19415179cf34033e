#!/usr/bin/env python
"""Extra benchmarks (guide §1.4): per-query isolation with the noop sink.

NOT part of the driver contract — bench.py stays the frozen headline
harness. This file exists so individual queries can be timed and their
plans dumped without running the whole bench:

  python bench_extra.py --queries ann_ivf_lloyd,simhash --repeats 3
  python bench_extra.py --queries simhash --explain-dir plans/r06 --suffix after

Reads $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and
$SPARK_GRAFT_CPUS (default: the cores this process may run on) like bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time


def warc_bench(spark, cpus: int, n_files: int = 32, pages_per_file: int = 1500,
               repeats: int = 3) -> dict:
    """VERDICT r5 #7: the WARC crawl-source path timed end to end —
    synthesize a multi-member .warc.gz corpus (Common Crawl layout: one
    gzip member per record), then read_warc -> extract_pages. Not in
    the frozen bench.py headline; cite from OPTIMIZATION_r06.md."""
    import gzip
    import shutil
    import statistics
    import tempfile

    from xqspark.core.warc import build_warc
    from xqspark.pipeline import extract_pages, read_warc

    d = tempfile.mkdtemp(prefix="warc_bench_")
    try:
        n_docs = 0
        for f in range(n_files):
            members = []
            for i in range(pages_per_file):
                body = (
                    f"<html><head><title>W{f}-{i}</title></head><body>"
                    + "<p>tok " * 40 + "</p></body></html>"
                ).encode()
                members.append(gzip.compress(build_warc([(
                    f"http://h{i % 97}.example/f{f}/p{i}",
                    f"2026-08-17T0{i % 10}:00:00Z",
                    body,
                )])))
                n_docs += 1
            with open(f"{d}/part-{f:04d}.warc.gz", "wb") as fh:
                fh.write(b"".join(members))
        runs = []
        for i in range(repeats):
            spark.sparkContext.setJobDescription(f"warc_extract run {i}")
            t0 = time.perf_counter()
            pages = read_warc(spark, d)
            extract_pages(
                pages, mode="xpath-single", query="//title", n_buckets=64
            ).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        med = statistics.median(runs)
        return {
            "warc_files": n_files,
            "warc_docs": n_docs,
            "warc_extract_seconds": round(med, 3),
            "warc_docs_per_sec": round(n_docs / med, 1),
            "spread": round((max(runs) - min(runs)) / med, 3),
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True, help="comma-separated query names, 'headline', or 'warc'")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--explain-dir", default=None, help="dump .explain('formatted') per query")
    ap.add_argument("--suffix", default="after", help="plan filename suffix (before/after)")
    ap.add_argument("--no-time", action="store_true", help="only dump plans, skip timing")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

    from xqspark.pipeline import build_session
    from xqspark.queries import QUERIES

    names = list(QUERIES) if args.queries == "headline" else args.queries.split(",")

    spark = build_session(cpus=cpus, app="xq-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    if args.queries == "warc":
        try:
            print(json.dumps(warc_bench(spark, cpus, repeats=args.repeats)))
        finally:
            spark.stop()
        return
    sc = spark.sparkContext
    out: dict[str, object] = {"sf": sf_dir, "cpus": cpus, "repeats": args.repeats}
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    try:
        # mirror bench.py: warm python workers + first-touch inputs
        spark.range(cpus * 4, numPartitions=cpus * 2).selectExpr("id").write.format(
            "noop"
        ).mode("overwrite").save()
        for t in ("documents", "embeddings", "orders", "lineitem",
                  "supplier", "nation", "events", "customer"):
            path = f"{sf_dir}/{t}.parquet"
            if os.path.exists(path):
                spark.read.parquet(path).write.format("noop").mode("overwrite").save()
        for name in names:
            if args.explain_dir:
                os.makedirs(args.explain_dir, exist_ok=True)
                df = QUERIES[name](spark, sf_dir)
                with open(
                    os.path.join(args.explain_dir, f"{name}_{args.suffix}.txt"), "w"
                ) as fh:
                    fh.write(df._jdf.queryExecution().explainString(
                        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                            "formatted"
                        )
                    ))
            if args.no_time:
                continue
            runs = []
            for i in range(args.repeats):
                sc.setJobDescription(f"{name} run {i}")
                t0 = time.perf_counter()
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(time.perf_counter() - t0)
            sc.setJobDescription(None)
            med = statistics.median(runs)
            timings[name] = round(med, 3)
            spreads[name] = round((max(runs) - min(runs)) / med, 3)
            print(f"## {name}: median {med:.3f}s runs={[round(r, 3) for r in runs]}",
                  flush=True)
    finally:
        spark.stop()
    out["queries"] = timings
    out["query_spread"] = spreads
    print(json.dumps(out))


if __name__ == "__main__":
    main()
