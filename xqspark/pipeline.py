"""The extraction pipeline — read pages, extract, write back, at scale.

North-rule contract (BASELINE.json): over an Iceberg-style table
(url, warc_ts, html:binary, text, lang) of Common-Crawl-style pages,

- salted repartitioning on url-host defuses domain skew BEFORE the
  Python-UDF compute (AQE splits shuffle partitions by bytes, not by
  UDF CPU cost, so explicit salting is required)
- extraction runs in mapInArrow through udfs.map_docs, the per-row form
  of udfs.map_arrow (iterator of Arrow batches — streaming, never
  collected; url and part_key pass through as Arrow arrays), one
  pure-Python core call per document, in
  ONE task wave (defaultParallelism partitions): every Python task pays
  a fixed worker set-up on top of its rows (a trivial stage at local[4]
  costs ~50 ms more per extra wave of 4 tasks with xqspark._daemon, which
  skips PySpark's per-task import-cache flush, ~100 ms without it), so
  2 waves cost more than they smooth
- per-partition lineage rows (part_key, docs, bytes, errors, checksum)
  are emitted alongside results and aggregated with a built-in hash agg
- checkpointed resume: a completed-manifest table keyed by deterministic
  part_key; on restart, pending part_keys are left-anti joined against it
  so a killed job replays ONLY unfinished partitions

Design notes for 1000-executor / 100 TB runs:
- part_key = pmod(xxhash64(url), n_buckets) is deterministic across runs
  and cluster sizes -> replay-exact resume and stable lineage keys.
- Arrow batch size is capped by rows AND bytes (multi-MB html blobs;
  default 10k rows/batch would OOM Python workers).
- The html blob column is pruned immediately after extraction; lineage
  and metrics queries never read it (column pruning reaches the scan).
- No Iceberg jar ships in this sandbox: catalog I/O falls back to an
  identical-schema parquet layout behind the same read/write helpers.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .udfs import map_docs

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# Arrow batches sent to a Python worker are capped by rows AND bytes:
# 512 rows of 2 MB html would be a 1 GB batch, so rows alone do not
# bound worker memory on multi-MB pages.
ARROW_BATCH_ROWS = 512
ARROW_BATCH_BYTES = 4 * 1024 * 1024

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("part_key", T.LongType(), False),
        T.StructField("extracted", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
    ]
)


def build_session(cpus: int | None = None, app: str = "xqspark") -> SparkSession:
    """A local session whose Python workers run ``xqspark._daemon``.

    Like the SQL settings below, ``spark.python.daemon.module`` is set
    over any value from spark-submit or spark-defaults. The daemon is
    imported before any task ships py-files, so the workers' PYTHONPATH
    also gets the ``sys.path`` entry this package was imported from (a
    directory, or the zip of ``spark-submit --py-files``), appended to
    any ``spark.executorEnv.PYTHONPATH`` already set; the session is
    local, so that path exists where the workers run."""
    master = f"local[{cpus}]" if cpus else "local[*]"
    shuffle_parts = str(max(32, (cpus or os.cpu_count() or 8)))
    spark = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.python.daemon.module", "xqspark._daemon")
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_BATCH_BYTES))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    # the environment every Python function ships to its workers, read
    # from spark.executorEnv.* when the context was made
    env = spark.sparkContext.environment
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if pkg_root not in paths:
        env["PYTHONPATH"] = os.pathsep.join([*paths, pkg_root])
    return spark


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Iceberg when a catalog is configured; identical-schema parquet else."""
    if path.startswith("iceberg:"):
        return spark.read.format("iceberg").load(path[len("iceberg:"):])
    return spark.read.parquet(path)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Common-Crawl WARC source: binaryFile scan -> mapInPandas parse of
    response records into (url, warc_ts, html) rows feeding the same
    extraction path as the parquet/Iceberg pages table. Handles plain
    .warc and multi-member .warc.gz (Common Crawl's one-gzip-member-per-
    record layout — stdlib gzip.decompress concatenates members).

    Scale shape: FILES are the parallelism unit (a CC crawl is ~10^5
    ~1 GB files — ample for 1000 executors); each file is one binary
    row, so executor memory must hold one decompressed file per task —
    the same bound every WARC processor (warcio over wholeTextFiles,
    CC-PySpark) runs with. Truncated trailing records are dropped by
    the lenient parser, matching crawl reality."""
    import gzip

    import pandas as pd

    from .core.warc import http_response_body, parse_warc

    files = spark.read.format("binaryFile").load(path)

    def parse(batches):
        import zlib

        from .core.warc import WarcError

        for b in batches:
            urls, tss, htmls = [], [], []
            for fpath, content in zip(b["path"], b["content"]):
                try:
                    data = bytes(content)
                    if fpath.endswith(".gz"):
                        data = gzip.decompress(data)
                    # containment boundary is the FILE: records already
                    # parsed from a file that later turns out corrupt
                    # are kept, the rest of that file is skipped — a
                    # bad file must never fail the task at crawl scale
                    for headers, payload in parse_warc(data):
                        if headers.get("warc-type") != "response":
                            continue
                        # convert BEFORE any append: a bad WARC-Date
                        # raising mid-record must not leave the three
                        # lists misaligned (pandas would fabricate a
                        # NaT/NaN row from the ragged dict)
                        ts = pd.Timestamp(headers.get("warc-date"))
                        urls.append(headers.get("warc-target-uri", ""))
                        tss.append(ts)
                        htmls.append(http_response_body(payload))
                except (WarcError, OSError, ValueError, TypeError, zlib.error):
                    # BadGzipFile is an OSError subclass; a corrupt
                    # deflate stream raises bare zlib.error
                    continue
            yield pd.DataFrame(
                {
                    "url": pd.Series(urls, dtype="object"),
                    # empty list would default to float64, which Arrow
                    # cannot cast to timestamp
                    "warc_ts": pd.Series(
                        tss, dtype="datetime64[ns]" if not tss else None
                    ),
                    "html": pd.Series(htmls, dtype="object"),
                }
            )

    return files.select("path", "content").mapInPandas(
        parse, "url string, warc_ts timestamp, html binary"
    )


def write_bucketed(
    df: DataFrame, table: str, bucket_col: str = "part_key", n_buckets: int = 64
) -> None:
    """Persist a table bucketed on its join/agg key: repeated joins and
    aggregations on ``bucket_col`` then run shuffle-free (co-located),
    which is the 100 TB play for results/manifest/golden-compare tables
    that are joined every round."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table)
    )


def with_host_salt(df: DataFrame, salts: int | None = None) -> DataFrame:
    """url-host + deterministic salt columns for skew-defusing repartition.

    parse_url and xxhash64 are built-in (JVM-side, codegen'd); the salt is
    keyed on the full url so one hot host spreads over `salts` partitions.
    ``salts=None`` scales with the session: 2x shuffle partitions, so a
    single dominant host can cover every task slot of any cluster size
    (a fixed 16 caps a hot host at 16 partitions on 1000 executors).
    """
    if salts is None:
        # the conf may be non-numeric on some platforms (e.g. "auto"
        # under AQE-managed partitioning) — fall back to the cluster's
        # default parallelism rather than crash
        try:
            base = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            base = df.sparkSession.sparkContext.defaultParallelism
        salts = 2 * base
    # try_parse_url: under ANSI mode (Spark 4 default) parse_url ABORTS
    # the job on one malformed URL; a NULL host keeps the per-row
    # containment contract (the salt still spreads such rows)
    return df.withColumn(
        "host", F.try_parse_url(F.col("url"), F.lit("HOST"))
    ).withColumn("salt", F.pmod(F.xxhash64(F.col("url")), F.lit(salts)))


def with_part_key(df: DataFrame, n_buckets: int = 256) -> DataFrame:
    """Deterministic partition key for lineage + resume (stable across
    runs and cluster sizes)."""
    return df.withColumn(
        "part_key", F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets))
    )


def _make_extractor(mode: str, query: str, indent: str):
    """One pure function (payload bytes) -> extracted text, chosen once on
    the driver and shipped in the closure — compile-once analog of
    utils.go:239-244."""
    from xqspark.core.api import beautify, css_query, to_json, xpath_query

    if mode == "xpath":
        return lambda p: xpath_query(p, query, False, False, indent)
    if mode == "xpath-single":
        return lambda p: xpath_query(p, query, True, False, indent)
    if mode == "xpath-node":
        return lambda p: xpath_query(p, query, False, True, indent)
    if mode == "css":
        return lambda p: css_query(p, query, "", False, indent)
    if mode == "css-node":
        return lambda p: css_query(p, query, "", True, indent)
    if mode == "json":
        return lambda p: to_json(p)
    if mode == "beautify":
        return lambda p: beautify(p, indent)
    if mode == "main-content":
        # boilerplate strip (DOM text-density heuristic) — the
        # training-corpus default for page -> text
        from xqspark.core.maincontent import main_text

        return main_text
    if mode.startswith("css-attr:"):
        attr = mode.split(":", 1)[1]
        return lambda p: css_query(p, query, attr, False, indent)
    raise ValueError(f"unknown extraction mode: {mode}")


def extract_pages(
    pages: DataFrame,
    mode: str = "xpath",
    query: str = "//body",
    indent: str = "  ",
    salts: int | None = None,
    n_buckets: int = 256,
    repartition_to: int | None = None,
) -> DataFrame:
    """pages -> (url, part_key, extracted, error, n_bytes).

    Plan shape: scan(url, html) [column-pruned] -> salted repartition on
    (host, salt) -> MapInArrow (``udfs.map_docs`` over ``udfs.map_arrow``).
    Exactly one shuffle.
    An unknown ``mode`` raises ValueError here, before any Spark job.

    The repartition defaults to ``defaultParallelism`` partitions, one
    task wave — the same rule as queries._spread. Every Python task pays
    a fixed worker set-up; ``xqspark._daemon`` removes its largest part
    (``importlib.invalidate_caches()`` re-reading pyspark.zip once per
    cached zipimporter), and what is left still makes more waves lose:
    on a 24,000-page ``xml_title_small`` corpus (4 vCPU, local[4]) this
    stage plus lineage took 0.76 s at 1x, 0.83 s at 2x (1x faster in 11
    of 12 alternating pairs), 0.83 s at 3x and 0.87 s at 4x. So do not
    raise it to ``spark.sql.shuffle.partitions`` (32 on 4 cores = 8
    waves). AQE does not help either: a repartition to a fixed count is
    never coalesced.
    """
    extractor = _make_extractor(mode, query, indent)  # unknown mode raises here
    df = with_part_key(pages, n_buckets)
    if repartition_to is None or repartition_to > 0:
        df = with_host_salt(df, salts)
        df = df.select("url", "html", "host", "salt", "part_key")
        nparts = repartition_to or df.sparkSession.sparkContext.defaultParallelism
        df = df.repartition(nparts, "host", "salt")
    # repartition_to == 0: caller already partitioned the input (e.g. the
    # steady-state bench times the UDF stage without the one-time exchange,
    # and streaming avoids a per-microbatch stateful exchange) — host/salt
    # are never computed. Either way map_docs projects the input down to
    # url, part_key and html, so the Arrow batches carry only those.

    def one(payload):
        if payload is None:
            return None, "empty", 0
        try:
            return extractor(payload), None, len(payload)
        except Exception as exc:  # per-row containment, never task failure
            return None, f"{type(exc).__name__}: {exc}"[:500], len(payload)

    return map_docs(df, "html", one, EXTRACT_SCHEMA, keep=("url", "part_key"))


def lineage(extracted: DataFrame) -> DataFrame:
    """Per-part_key lineage rows: counts, bytes, errors, order-insensitive
    checksum. Partial aggregation (map-side combine) comes free from the
    hash agg; the shuffle moves only 256 tiny rows per stat."""
    return extracted.groupBy("part_key").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_bytes").alias("bytes"),
        F.count("error").alias("errors"),
        # order-insensitive, overflow-free combine of per-row hashes
        F.bit_xor(F.xxhash64("url", "extracted")).alias("checksum"),
    )


def run_with_resume(
    pages: DataFrame,
    out_dir: str,
    mode: str = "xpath",
    query: str = "//body",
    n_buckets: int = 64,
    salts: int | None = None,
) -> dict:
    """Checkpointed extraction: part_keys already present in the manifest
    are skipped (left-anti join); each wave appends results + manifest.

    Returns counts: {"processed": n, "skipped_parts": k}.
    """
    spark = pages.sparkSession
    results_path = os.path.join(out_dir, "results")
    manifest_path = os.path.join(out_dir, "manifest")

    keyed = with_part_key(pages, n_buckets)  # host/salt not needed here
    # probe via the Spark reader, NOT os.path: the manifest may live on
    # distributed storage (hdfs://, s3a://) invisible to the driver's
    # local filesystem
    try:
        done_parts = spark.read.parquet(manifest_path).select("part_key").distinct()
        done_parts.first()  # force existence check now
    except AnalysisException as exc:
        # ONLY a missing manifest means "first run" — a transient storage
        # error must raise, or resume silently re-extracts everything and
        # appends duplicate lineage rows
        msg = str(exc)
        if "PATH_NOT_FOUND" not in msg and "Path does not exist" not in msg:
            raise
        done_parts = None

    skipped = 0
    if done_parts is not None:
        skipped = done_parts.count()
        # broadcast anti-join: the manifest is tiny (n_buckets rows)
        keyed = keyed.join(F.broadcast(done_parts), "part_key", "left_anti")

    pending = keyed.select("url", "warc_ts", "html", "text", "lang")
    extracted = extract_pages(pending, mode, query, salts=salts, n_buckets=n_buckets)
    extracted = extracted.persist()
    processed = 0
    try:
        processed = extracted.count()
        if processed > 0:
            # Results are written with DYNAMIC partition overwrite keyed on
            # part_key: a crash between the results write and the manifest
            # write makes the restart re-extract those part_keys, and the
            # re-write REPLACES the same partitions instead of appending
            # duplicates -> exactly-once results per part_key.
            (
                extracted.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("part_key")
                .parquet(results_path)
            )
            lineage(extracted).write.mode("append").parquet(manifest_path)
    finally:
        extracted.unpersist()
    return {"processed": processed, "skipped_parts": skipped}


# ---------------------------------------------------------------------------
# Deterministic synthetic pages (tests + bench; FIXTURES.md §1)
# ---------------------------------------------------------------------------


def synthesize_pages(
    spark: SparkSession,
    n_rows: int = 10000,
    n_hosts: int = 100,
    seed: int = 42,
    body_repeats: int = 1,
) -> DataFrame:
    """Seed-fixed Common-Crawl-shaped pages with a Zipf-skewed host
    distribution (a few hosts own most rows) so salting is exercised."""
    # Zipf-ish: host rank h gets weight 1/h. Deterministic via xxhash64 of
    # the row id — no Python RNG, fully reproducible and distributed.
    zipf_cdf = []
    total = sum(1.0 / h for h in range(1, n_hosts + 1))
    acc = 0.0
    for h in range(1, n_hosts + 1):
        acc += (1.0 / h) / total
        zipf_cdf.append((h, acc))
    when_host = None
    u = (F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(1_000_000)) / 1_000_000.0)
    for h, cdf in zipf_cdf:
        cond = u <= F.lit(cdf)
        when_host = (
            F.when(cond, F.lit(h)) if when_host is None else when_host.when(cond, F.lit(h))
        )
    when_host = when_host.otherwise(F.lit(n_hosts))

    df = spark.range(n_rows).withColumn("h", when_host)
    body_word = F.concat(F.lit("w"), F.pmod(F.col("id"), F.lit(97)).cast("string"))
    paragraph = F.concat(
        F.lit("<p>"),
        F.concat_ws(
            " ",
            body_word,
            F.lit("lorem ipsum dolor"),
            F.concat(F.lit("tok"), F.pmod(F.col("id") * 31, F.lit(1009)).cast("string")),
        ),
        F.lit("</p>"),
    )
    body = F.repeat(paragraph, body_repeats) if body_repeats > 1 else paragraph
    html = F.concat(
        F.lit('<?xml version="1.0"?>\n<page id="'),
        F.col("id").cast("string"),
        F.lit('"><title>Page '),
        F.col("id").cast("string"),
        F.lit("</title><body>"),
        body,
        F.lit("</body></page>"),
    )
    return df.select(
        F.concat(
            F.lit("http://host"),
            F.col("h").cast("string"),
            F.lit(".example/p"),
            F.col("id").cast("string"),
        ).alias("url"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=F.col("id"))).alias("warc_ts"),
        html.cast("binary").alias("html"),
        F.lit("").alias("text"),
        F.when(F.pmod(F.col("id"), F.lit(50)) == 0, F.lit("ru")).otherwise(F.lit("en")).alias("lang"),
    )
