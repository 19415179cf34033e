"""The four workloads: their timed pass, output checks and layer probes.

Each workload object is built over one generated input and one Spark
session and offers:

- ``check()``: one untimed pass whose outputs are checked in full (exact
  row and url counts, a url sample compared byte for byte with direct
  ``xqspark.core`` calls, or the DuckDB oracles). It also warms the JVM
  and fixes the reference checksum. Returns the number of failed docs.
- ``run_pass(tracer)``: one timed pass; returns its raw result.
- ``pass_failures(result)``: the per-pass checks on that result (exact
  doc count and checksum, or oracle equality), run after the runner has
  stopped its clock. Returns the number of failed docs.
- ``probes(tracer, mem, pass_s, nproc, repeats)``: traced-mode layer
  probes; returns (per-layer metrics, failed docs of the probes' checks).
- ``defects()``: (defect, failed docs by the full check, by the per-pass
  check) for planted defects, for the checker's self-test.
"""

from __future__ import annotations

import gc
import math
import os
import shutil
import statistics
import time
from collections import Counter

import duckdb
from pyspark.sql import functions as F

from perfbench.spans import Tracer
from xqspark.core.api import xpath_query
from xqspark.core.dom import parse_dom
from xqspark.core.htmltree import parse_html
from xqspark.core.maincontent import main_text
from xqspark.pipeline import (
    extract_pages,
    lineage,
    read_pages,
    run_with_resume,
    with_host_salt,
    with_part_key,
)
from xqspark.queries import (
    _docs,
    lsh_pairs,
    minhash_sig_df,
    q_dedup_keep,
    q_dedup_keep_sql,
    q_lsh_pairs_sql,
)

N_BUCKETS = 256  # extract_pages' default part_key space
RESUME_BUCKETS = 64  # run_with_resume's default
KILL_AT = 32  # the induced kill leaves part_keys < KILL_AT committed
QUERY = "//title"
_OFF = Tracer("untimed", enabled=False)  # for passes outside the timed loop


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_time(fn, repeats: int) -> float:
    runs = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs)


def _contained(fn, payload):
    """extract_pages' per-row contract: (extracted, error) for one payload."""
    if payload is None:
        return None, "empty"
    try:
        return fn(payload), None
    except Exception as exc:  # the pipeline contains every per-row error
        return None, f"{type(exc).__name__}: {exc}"[:500]


def _xor(values) -> int:
    out = 0
    for v in values:
        out ^= v
    return out


class Extraction:
    """xml_title_small (xpath-single //title) and html_main_content
    (main-content): read_pages -> extract_pages -> lineage -> collect."""

    def __init__(self, spark, info: dict, mode: str, sample: int, work: str):
        self.spark = spark
        self.path = info["path"]
        self.n = len(info["urls"])
        self.nonnull = sum(h is not None for h in info["html"])
        self.mode = mode
        self.work = work
        if mode == "main-content":
            self.core, self.parse = main_text, parse_html
        else:
            self.core = lambda p: xpath_query(p, QUERY, True, False, "  ")
            self.parse = parse_dom
        picks = sorted({i * self.n // sample for i in range(min(sample, self.n))})
        self.sample = {info["urls"][i]: info["html"][i] for i in picks}
        # the expected outputs: direct core calls on the sample
        self.expected = {u: _contained(self.core, p) for u, p in self.sample.items()}
        self.ref_checksum = None
        self.committed = None  # rows the induced kill leaves committed
        self.resume_runs = 0

    def core_timing(self) -> dict:
        """The core layer in this process over the sample: each call timed,
        then its parse step alone."""
        call_ms, parse_ms, errors = [], [], 0
        # DOM trees hold parent links, so the cycle collector frees them
        # whenever it happens to run; run it between documents instead
        gc.collect()
        gc.disable()
        try:
            for payload in self.sample.values():
                if payload is None:
                    continue
                t0 = time.perf_counter()
                errors += _contained(self.core, payload)[1] is not None
                t1 = time.perf_counter()
                _contained(self.parse, payload)
                call_ms.append((t1 - t0) * 1e3)
                parse_ms.append((time.perf_counter() - t1) * 1e3)
                gc.collect(0)
        finally:
            gc.enable()
        call_s = sum(call_ms) / 1e3
        return {
            "core.s": self.nonnull * call_s / len(call_ms),  # whole input
            "core.docs_per_s_1proc": len(call_ms) / call_s,
            "core.ms_per_doc_p50": statistics.median(call_ms),
            "core.ms_per_doc_p99": statistics.quantiles(call_ms, n=100)[98],
            "core.error_docs": errors,
            "core.parse_share": sum(parse_ms) / sum(call_ms),
        }

    def _pages(self):
        return read_pages(self.spark, self.path)

    # -- checks ----------------------------------------------------------
    def check_df(self, ex) -> tuple[int, int]:
        """(failed docs, checksum) of an extracted (url, extracted, error)
        DataFrame, from one action: urls missing or repeated, plus sample
        urls whose one row differs from the direct core call."""
        in_sample = F.col("url").isin(list(self.sample))
        rows = ex.select(
            "url",
            F.xxhash64("url", "extracted").alias("h"),
            in_sample.alias("s"),
            F.when(in_sample, F.col("extracted")).alias("extracted"),
            F.when(in_sample, F.col("error")).alias("error"),
        ).collect()
        count = Counter(r["url"] for r in rows)
        mismatched = sum(
            1
            for r in rows
            if r["s"] and count[r["url"]] == 1
            and (r["extracted"], r["error"]) != self.expected[r["url"]]
        )
        failed = abs(self.n - len(count)) + (len(rows) - len(count)) + mismatched
        return failed, _xor(r["h"] for r in rows)

    def check(self) -> int:
        failed, self.ref_checksum = self.check_df(
            extract_pages(self._pages(), mode=self.mode, query=QUERY)
        )
        return failed

    def _defect_variants(self, df) -> dict:
        u0 = next(u for u, p in self.sample.items() if p is not None)
        hit = F.col("url") == u0
        altered = F.concat(F.coalesce("extracted", F.lit("")), F.lit("x"))
        return {
            "altered_string": df.withColumn(
                "extracted", F.when(hit, altered).otherwise(F.col("extracted"))
            ),
            "dropped_row": df.filter(~hit),
            "duplicated_row": df.unionByName(df.filter(hit)),
        }

    def defects(self) -> list:
        """(defect, failed docs by the full check, by the per-pass check)."""
        ex = extract_pages(self._pages(), mode=self.mode, query=QUERY).persist()
        try:
            return [
                (name, self.check_df(df)[0], self.lineage_failures(lineage(df).collect()))
                for name, df in self._defect_variants(ex).items()
            ]
        finally:
            ex.unpersist()

    def lineage_failures(self, rows) -> int:
        """Per-pass check on lineage rows: the exact doc count, and the
        checksum equal to the checked pass's."""
        docs = sum(r["docs"] for r in rows)
        if docs != self.n:
            return abs(docs - self.n)
        return int(_xor(r["checksum"] for r in rows) != self.ref_checksum)

    # -- timed pass ------------------------------------------------------
    def run_pass(self, tracer):
        with tracer.span("pipeline.read_pages"):
            pages = self._pages()
        with tracer.span("pipeline.extract_pages"):
            ex = extract_pages(pages, mode=self.mode, query=QUERY)
        with tracer.span("pipeline.lineage"):
            lin = lineage(ex)
        with tracer.span("collect"):
            return lin.collect()

    def pass_failures(self, result) -> int:
        return self.lineage_failures(result)

    def pass_metrics(self, result) -> dict:
        """Workload-specific figures of one timed pass."""
        return {}

    # -- resume ----------------------------------------------------------
    def resume_waves(self, tracer) -> dict:
        """run_with_resume where wave 1 sees only part_keys < KILL_AT (the
        state a job killed after those partitions committed leaves), then
        a restart on the full input, into a fresh output directory."""
        self.resume_runs += 1
        out = os.path.join(self.work, f"resume-{self.resume_runs}")
        pages = self._pages()
        killed = (
            with_part_key(pages, RESUME_BUCKETS)
            .filter(F.col("part_key") < KILL_AT)
            .drop("part_key")
        )
        if self.committed is None:
            self.committed = killed.count()
        t0 = time.perf_counter()
        with tracer.span("pipeline.run_with_resume", wave="first"):
            r1 = run_with_resume(killed, out, mode=self.mode, query=QUERY, n_buckets=RESUME_BUCKETS)
        t1 = time.perf_counter()
        with tracer.span("pipeline.run_with_resume", wave="restart"):
            r2 = run_with_resume(pages, out, mode=self.mode, query=QUERY, n_buckets=RESUME_BUCKETS)
        t2 = time.perf_counter()
        return {"out": out, "r1": r1, "r2": r2, "first_wave_s": t1 - t0, "restart_s": t2 - t1}

    def resume_failures(self, res) -> int:
        """Wave 1 must commit exactly the rows under KILL_AT, the restart
        must replay exactly the rest, and the manifest must cover every doc
        once with the reference checksum. Removes the output directory."""
        try:
            failed = abs(res["r1"]["processed"] - self.committed)
            failed += abs(res["r2"]["processed"] - (self.n - self.committed))
            manifest = self.spark.read.parquet(os.path.join(res["out"], "manifest")).collect()
            return failed + self.lineage_failures(manifest)
        finally:
            shutil.rmtree(res["out"], ignore_errors=True)

    def replay_frac(self, res) -> float:
        """Rows re-extracted on restart / rows uncommitted at the kill."""
        return res["r2"]["processed"] / (self.n - self.committed)

    # -- layer probes (traced mode) -------------------------------------
    def probes(self, tracer, mem, pass_s: float, nproc: int, repeats: int) -> tuple[dict, int]:
        """Per-layer metrics and failed docs of the probes' own checks.
        ``mem`` is the run's sampling WorkerMemory; ``pass_s`` the mean
        untraced pass."""
        spark = self.spark
        m: dict = {}
        pages = self._pages()
        with tracer.span("pipeline.read_pages"):
            scan_s = _median_time(lambda: _noop(pages.select("url", "html")), repeats)
        m["read_pages.s"] = scan_s
        m["read_pages.mb"] = os.path.getsize(self.path) / 1e6

        # extract_pages' own salted exchange, materialised without the UDF
        nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        salted = (
            with_host_salt(with_part_key(pages, N_BUCKETS))
            .select("url", "html", "host", "salt", "part_key")
            .repartition(nparts, "host", "salt")
        )
        with tracer.span("pipeline.salt_shuffle"):
            shuffle_noop_s = _median_time(lambda: _noop(salted), repeats)
        m["salt_shuffle.s"] = shuffle_noop_s - scan_s

        pre = salted.select("url", "html", "part_key").persist()
        try:
            part_rows = [
                r["count"]
                for r in pre.groupBy(F.spark_partition_id().alias("p")).count().collect()
            ]
            part_rows += [0] * (pre.rdd.getNumPartitions() - len(part_rows))
            med = statistics.median(part_rows)
            m["salt_shuffle.partitions"] = len(part_rows)
            m["salt_shuffle.part_rows_max_over_median"] = max(part_rows) / med if med else 0.0
            batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
            m["boundary.arrow_batches"] = sum(math.ceil(r / batch) for r in part_rows)

            def prepart():
                return extract_pages(pre, mode=self.mode, query=QUERY, repartition_to=0)

            with tracer.span("pipeline.extract_pages", repartition_to=0):
                prepart_s = _median_time(lambda: _noop(prepart()), repeats)
            with tracer.span("floor.no_udf"):
                floor_s = _median_time(
                    lambda: _noop(with_part_key(pre, N_BUCKETS).select("url", "html", "part_key")),
                    repeats,
                )
            ex = prepart().persist()
            ex.count()
            try:
                with tracer.span("pipeline.lineage"):
                    m["lineage.s"] = _median_time(lambda: lineage(ex).collect(), repeats)
            finally:
                ex.unpersist()
        finally:
            pre.unpersist()

        with tracer.span("core"):
            m.update(self.core_timing())
        m["extract_pages.prepart_s"] = prepart_s
        m["boundary.s"] = prepart_s - floor_s - m["core.s"] / nproc
        m["boundary.share"] = m["boundary.s"] / pass_s
        m["core.share"] = m["core.s"] / nproc / pass_s
        m["pass.unattributed_s"] = pass_s - (shuffle_noop_s + prepart_s - floor_s + m["lineage.s"])

        res = self.resume_waves(tracer)
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(res["out"])
            for f in fs
            if not f.startswith((".", "_"))
        ]
        m.update(
            {
                "resume.first_wave_s": res["first_wave_s"],
                "resume.restart_s": res["restart_s"],
                "resume.skipped_parts": res["r2"]["skipped_parts"],
                "resume.reprocessed_rows": res["r2"]["processed"],
                "resume.replay_frac": self.replay_frac(res),
                "resume.files_written": len(files),
                "resume.bytes_written": sum(os.path.getsize(f) for f in files),
            }
        )
        return m, self.resume_failures(res)


class Resume(Extraction):
    """resume_skewed: the timed pass is Extraction.resume_waves (wave 1
    killed after part_keys < KILL_AT committed, then the restart)."""

    def __init__(self, spark, info, sample, work):
        super().__init__(spark, info, "xpath-single", sample, work)

    def check(self) -> int:
        res = self.resume_waves(_OFF)
        results = self.spark.read.parquet(os.path.join(res["out"], "results"))
        failed, self.ref_checksum = self.check_df(results)
        return failed + self.resume_failures(res)

    def defects(self) -> list:
        res = self.resume_waves(_OFF)
        results = self.spark.read.parquet(os.path.join(res["out"], "results")).persist()
        try:
            out = [
                (name, self.check_df(df)[0], self.lineage_failures(lineage(df).collect()))
                for name, df in self._defect_variants(results).items()
            ]
        finally:
            results.unpersist()
        # a restart that replays one committed row too many
        over = dict(res, r2=dict(res["r2"], processed=res["r2"]["processed"] + 1))
        return out + [("over_replay", self.resume_failures(over), None)]

    def run_pass(self, tracer):
        return self.resume_waves(tracer)

    def pass_failures(self, result) -> int:
        return self.resume_failures(result)

    def pass_metrics(self, result) -> dict:
        return {"resume_s": result["restart_s"], "replay_frac": self.replay_frac(result)}


class NearDup:
    """neardup_dedup: lsh_pairs 16x4 (band_cap=64, on_dropped, cache_out)
    then q_dedup_keep, both checked against the repo's DuckDB oracles."""

    def __init__(self, spark, info: dict):
        self.spark = spark
        self.dir = info["path"]
        self.cluster = info["cluster"]
        self.n = len(self.cluster)
        self.oracle_pairs: set = set()
        self.oracle_keep: set = set()
        self.dropped: list[int] = []

    def check(self) -> int:
        con = duckdb.connect()
        try:
            con.sql(
                f"CREATE VIEW documents AS FROM read_parquet('{self.dir}/documents.parquet')"
            )
            self.oracle_pairs = set(con.sql(q_lsh_pairs_sql(16, 4, 64)).fetchall())
            self.oracle_keep = set(con.sql(q_dedup_keep_sql()).fetchall())
        finally:
            con.close()
        return self.pass_failures(self.run_pass(_OFF))

    def run_pass(self, tracer):
        with tracer.span("queries.lsh_pairs"):
            cache: list = []
            pairs = lsh_pairs(
                self.spark,
                self.dir,
                n_bands=16,
                n_rows=4,
                band_cap=64,
                on_dropped=self.dropped.append,
                cache_out=cache,
            ).collect()
            for c in cache:
                c.unpersist()
        with tracer.span("queries.q_dedup_keep"):
            kept = q_dedup_keep(self.spark, self.dir).collect()
        return [tuple(r) for r in pairs], [tuple(r) for r in kept]

    @staticmethod
    def _bad_rows(got: list, want: set) -> set:
        """Rows that are missing, extra or repeated."""
        c = Counter(got)
        bad = {r for r, k in c.items() if k > 1 or r not in want}
        return bad | {r for r in want if r not in c}

    def pass_failures(self, result) -> int:
        """Docs in a pair or a kept row that differs from the oracles."""
        pairs, kept = result
        docs = {d for pair in self._bad_rows(pairs, self.oracle_pairs) for d in pair}
        docs |= {doc for doc, _ in self._bad_rows(kept, self.oracle_keep)}
        return len(docs)

    def pass_metrics(self, result) -> dict:
        return {}

    def defects(self):
        pairs, kept = self.run_pass(_OFF)
        k0 = kept[0]
        return [
            ("altered_string", self.pass_failures((pairs, [(k0[0], not k0[1])] + kept[1:])), None),
            ("dropped_row", self.pass_failures((pairs[1:], kept)), None),
            ("duplicated_row", self.pass_failures((pairs, kept + [k0])), None),
        ]

    def probes(self, tracer, mem, pass_s, nproc, repeats) -> tuple[dict, int]:
        m: dict = {}
        # the same spread input lsh_pairs signs (queries' own reader)
        sig = minhash_sig_df(_docs(self.spark, self.dir), n_hashes=64)
        with tracer.span("queries.minhash_sig_df") as s:
            m["minhash_sig.s"] = _median_time(lambda: _noop(sig), repeats)
        m["minhash_sig.worker_rss_peak_mb"] = mem.peak_between(s["start"], s["end"])
        pairs, kept = self.run_pass(_OFF)
        m["lsh_pairs.pairs"] = len(pairs)
        m["lsh_pairs.dropped_hot_bands"] = self.dropped[-1] if self.dropped else 0
        m["dedup_keep.kept_docs"] = len(kept)
        true = sum(1 for a, b in pairs if self.cluster[a] == self.cluster[b] != 0)
        m["lsh_pairs.true_pair_frac"] = true / len(pairs) if pairs else 0.0
        return m, self.pass_failures((pairs, kept))
