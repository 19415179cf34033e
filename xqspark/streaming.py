"""Structured Streaming extraction — continuous crawl ingestion.

The reference processes a finite file list; the streaming analog is a
continuous pages source (new WARC-derived parquet dropping into a
directory, or Kafka) flowing through the SAME extraction path:

    readStream(pages) -> part_key -> extract_pages (mapInArrow through
        udfs.map_docs, the per-row form of udfs.map_arrow)
        -> (a) append sink of per-url extracted text
        -> (b) watermarked per-window lineage counts (late data bounded)

mapInArrow and pandas UDFs are streaming-safe (stateless per batch); the
lineage aggregate is the only stateful operator and uses a watermark so
state is evicted at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import PAGES_SCHEMA, extract_pages, with_host_salt, with_part_key


def read_pages_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """File-drop source with bounded per-trigger intake (backpressure)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def extract_stream(
    pages: DataFrame,
    mode: str = "xpath-single",
    query: str = "//title",
    n_buckets: int = 256,
) -> DataFrame:
    """Streaming extraction: same per-row path as batch, no shuffle before
    the map (repartition of an unbounded stream would force a stateful
    exchange per microbatch, so no host/salt columns are computed)."""
    return extract_pages(
        pages, mode=mode, query=query, n_buckets=n_buckets, repartition_to=0
    )


def windowed_lineage(
    pages: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-event-time-window lineage over the raw stream: docs and bytes
    per (window, part_key), late data bounded by the watermark."""
    keyed = with_part_key(pages, 256).withWatermark(
        "warc_ts", watermark
    )
    return keyed.groupBy(
        F.window("warc_ts", window).alias("win"), "part_key"
    ).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.length(F.col("html"))).alias("bytes"),
    )


def _bloom_indexes(url: str, n_bits: int, k: int = 4) -> list[int]:
    """k bit positions via double hashing (h1 + i*h2) from the two md5
    halves — supports ANY k (a fixed 4-byte slicing would silently
    degenerate past k=4) and is deterministic across processes/restarts
    (builtin hash() depends on PYTHONHASHSEED and would silently
    invalidate persisted state)."""
    import hashlib

    d = hashlib.md5(url.encode("utf-8", "surrogateescape")).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1  # odd: full-period stride
    return [(h1 + i * h2) % n_bits for i in range(k)]


def _bloom_has(buf, idxs) -> bool:
    return all(buf[i >> 3] & (1 << (i & 7)) for i in idxs)


def _bloom_add(buf: bytearray, idxs) -> None:
    for i in idxs:
        buf[i >> 3] |= 1 << (i & 7)


_OUT_SCHEMA_DDL = "url string, warc_ts timestamp, html binary, lang string"
_STATE_SCHEMA_DDL = "cur binary, prev binary, n_cur long, last_ms long"


def _bloom_state_fns(bloom_bits: int, bloom_hashes: int, ttl_ms: int):
    """(load, filter_batch, pack) closures holding the Bloom-generation
    dedup logic and the READ-TIME TTL rule.

    TTL is enforced on state READ: state older than ttl_ms reads back
    as absent. No processing-time TIMERS anywhere — timer cleanup
    batches are what made applyInPandasWithState + ProcessingTimeTimeout
    never terminate under trigger(availableNow); read-time expiry
    drains and stops."""
    import time as _time

    capacity = max(1, bloom_bits // (4 * bloom_hashes))
    n_bytes = bloom_bits >> 3

    def load(stored):
        """stored: (cur, prev, n_cur, last_ms) tuple or None."""
        if stored is not None:
            cur_b, prev_b, n_cur, last_ms = stored
            if ttl_ms <= 0 or (_time.time() * 1000 - last_ms) <= ttl_ms:
                return bytearray(cur_b), bytes(prev_b), n_cur
        return bytearray(n_bytes), bytes(n_bytes), 0

    def filter_batch(batch, cur, prev, n_cur):
        """-> (fresh_rows_df, cur, prev, n_cur)"""
        import pandas as pd

        mask = []
        for url in batch["url"]:
            idxs = _bloom_indexes(url, bloom_bits, bloom_hashes)
            if _bloom_has(cur, idxs) or _bloom_has(prev, idxs):
                mask.append(False)
                continue
            _bloom_add(cur, idxs)
            n_cur += 1
            if n_cur >= capacity:  # rotate generations
                prev = bytes(cur)
                cur = bytearray(n_bytes)
                n_cur = 0
            mask.append(True)
        fresh = batch[pd.Series(mask, index=batch.index)]
        return fresh[["url", "warc_ts", "html", "lang"]], cur, prev, n_cur

    def pack(cur, prev, n_cur):
        return (bytes(cur), prev, n_cur, int(_time.time() * 1000))

    return load, filter_batch, pack


def dedup_stream(
    pages: DataFrame,
    ttl_minutes: float = 0,
    bloom_bits: int = 1 << 20,
    bloom_hashes: int = 4,
) -> DataFrame:
    """Custom stateful operator: cross-microbatch first-seen URL dedup,
    keyed by url-host.

    State per host is BOUNDED at 2 x bloom_bits/8 bytes regardless of how
    many URLs the host has seen: two rotating-generation Bloom filters
    (current + previous). When the current generation reaches its
    capacity (bloom_bits/16 inserts ~= 0.25 fill at k=4, ~0.2% false-
    positive rate), it rotates to previous and a fresh one starts —
    membership checks consult both, so recently-seen URLs keep deduping
    while ancient ones age out (sliding-generation semantics). A false
    positive drops a never-seen URL as a duplicate; at crawl scale that
    trade (0.2% loss for O(1) state on a 10^8-url host) is the standard
    one. For exact small-scale dedup use batch `dedup_groups`.

    ttl_minutes > 0 is whole-state READ-TIME expiry: a
    host whose state wasn't updated within the TTL reads back as absent
    and its URLs re-pass. No processing-time timers — the old
    ProcessingTimeTimeout path kept scheduling "no new data" cleanup
    batches so a drain-and-stop trigger never terminated; read-time TTL
    terminates under ``trigger(availableNow=True)`` and is covered by
    test_streaming.py::test_dedup_stream_ttl_expiry_under_available_now.

    UPGRADE NOTE: checkpoint state is NOT portable — the r5 state tuple
    gained ``last_ms`` (old (cur, prev, n_cur) checkpoints are
    incompatible, as was the r2 array->Bloom change). Discard the
    checkpoint directory and reprocess when upgrading."""
    ttl_ms = int(ttl_minutes * 60 * 1000) if ttl_minutes > 0 else 0
    load, filter_batch, pack = _bloom_state_fns(bloom_bits, bloom_hashes, ttl_ms)
    keyed = with_host_salt(pages).select("host", "url", "warc_ts", "html", "lang")

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def dedup(key, batches, state: GroupState):
        cur, prev, n_cur = load(state.get if state.exists else None)
        for batch in batches:
            fresh, cur, prev, n_cur = filter_batch(batch, cur, prev, n_cur)
            if len(fresh):
                yield fresh
        state.update(pack(cur, prev, n_cur))

    return keyed.groupBy("host").applyInPandasWithState(
        dedup,
        outputStructType=_OUT_SCHEMA_DDL,
        stateStructType=_STATE_SCHEMA_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def neardup_ingest(
    pages_stream: DataFrame,
    out_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    n_bands: int = 2,
    n_rows: int = 2,
):
    """Continuous corpus ingestion with NEAR-dup suppression — the
    stream-to-batch incremental pattern (foreachBatch): every
    microbatch is MinHash-signed and bucketed into the SAME band space
    as the batch `lsh_pairs` (shared minhash_sig_df/band_keys_df, so
    batch-built stores and streamed ingestion agree bit-for-bit), then

    1. docs colliding with the persistent band STORE are dropped
       (near-dup of something already ingested),
    2. within the batch, every band keeps only its first url (greedy
       first-seen; like all LSH dedup this is candidate-level —
       conservative, deterministic),
    3. survivors append to the corpus and their bands to the store.

    Exactly-once without a transaction log: each batch writes to
    ``<dir>/ingest_batch=<id>`` with overwrite, so a replayed batch
    (crash between writes and checkpoint commit) overwrites its own
    output instead of duplicating it. State is the band store itself —
    unbounded by design (it IS the corpus index), but bands are 32-char
    keys + a url: O(n_bands) per KEPT doc, pruned of every dropped dup.

    At 100 TB: the store-membership check is a broadcast-or-shuffle
    semi-join on band keys (Spark picks by size); in production the
    store would live in a table format with compaction, which this
    directory layout stands in for."""

    def ingest(batch: DataFrame, batch_id: int) -> None:
        _neardup_ingest_batch(
            batch, batch_id, out_dir, store_dir, n_bands, n_rows
        )

    return (
        pages_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _neardup_ingest_batch(
    batch: DataFrame,
    batch_id: int,
    out_dir: str,
    store_dir: str,
    n_bands: int = 2,
    n_rows: int = 2,
) -> None:
    """One neardup_ingest microbatch (module-level so the crash-replay
    path is directly testable — foreachBatch runs this on the driver)."""
    import os

    from pyspark.sql import Window as W

    from .queries import band_keys_df, minhash_sig_df

    bands_dir = f"{store_dir}/bands"
    spark = batch.sparkSession
    batch = batch.persist()
    sig = minhash_sig_df(batch, n_hashes=n_bands * n_rows, id_col="url")
    bands = band_keys_df(sig, n_bands, n_rows, id_col="url").persist()

    dropped = None
    if os.path.isdir(bands_dir) and any(
        e.startswith("ingest_batch=") for e in os.listdir(bands_dir)
    ):
        # STRICTLY-EARLIER batches only: a replayed batch (crash after
        # the bands write but before the checkpoint commit) must not
        # collide with its OWN first-attempt bands — that would drop
        # every doc and overwrite the real output with an empty one.
        # The directory layout is a Hive partition (ingest_batch=<id>),
        # so the filter also prunes the scan.
        seen = (
            spark.read.parquet(bands_dir)
            .filter(F.col("ingest_batch") < batch_id)
            .select("band")
        )
        dropped = (
            bands.join(seen, "band", "left_semi").select("url").distinct()
        )
    # in-batch: every band keeps its first url only
    first = bands.withColumn(
        "rnk", F.row_number().over(W.partitionBy("band").orderBy("url"))
    )
    later = first.filter(F.col("rnk") > 1).select("url").distinct()
    dropped = later if dropped is None else dropped.union(later).distinct()
    kept = batch.join(dropped, "url", "left_anti")

    kept.write.mode("overwrite").parquet(f"{out_dir}/ingest_batch={batch_id}")
    kept_bands = bands.join(kept.select("url"), "url", "left_semi")
    kept_bands.write.mode("overwrite").parquet(
        f"{bands_dir}/ingest_batch={batch_id}"
    )
    bands.unpersist()
    batch.unpersist()


def compact_band_store(spark: SparkSession, store_dir: str) -> int:
    """Rewrite the band store's accumulated ingest_batch partitions into
    ONE partition keyed at the highest committed batch id — the
    compaction a table format would do automatically. Long-running
    ingestion otherwise accretes one small partition per microbatch
    (listing cost + small files).

    Precondition: run BETWEEN triggers (no batch pending replay). Safe
    under that: replays only ever target the LATEST batch id, and the
    compacted partition keeps id = max committed, so a replay of batch
    N > max still sees every compacted band via the strictly-earlier
    filter, while its own partition (> max) is untouched. Returns the
    number of partitions compacted away."""
    import os
    import shutil

    bands_dir = f"{store_dir}/bands"
    if not os.path.isdir(bands_dir):
        return 0
    parts = sorted(
        e for e in os.listdir(bands_dir) if e.startswith("ingest_batch=")
    )
    if len(parts) <= 1:
        return 0
    max_id = max(int(p.split("=", 1)[1]) for p in parts)
    all_bands = spark.read.parquet(bands_dir).drop("ingest_batch")
    tmp = f"{store_dir}/_compact_tmp"
    all_bands.coalesce(max(1, len(parts) // 8)).write.mode(
        "overwrite"
    ).parquet(tmp)
    # Crash-safe swap order (r6): replace ONLY the max partition with
    # the compacted superset FIRST, then delete the rest. A crash after
    # the replace leaves duplicate band rows across partitions, which
    # the left_semi membership check is insensitive to; the old order
    # (delete everything, then rename) had a window where the ENTIRE
    # store was gone and ingestion would silently stop deduplicating.
    # The only remaining window is the two adjacent syscalls around the
    # max partition itself (os.replace cannot atomically swap a
    # non-empty directory).
    target = f"{bands_dir}/ingest_batch={max_id}"
    shutil.rmtree(target, ignore_errors=True)
    os.replace(tmp, target)
    for p in parts:
        if p != f"ingest_batch={max_id}":
            shutil.rmtree(f"{bands_dir}/{p}", ignore_errors=True)
    return len(parts) - 1


def run_stream_to_parquet(
    pages_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    mode: str = "xpath-single",
    query: str = "//title",
):
    """Continuous extraction job with exactly-once file sink + checkpoint
    (the streaming analog of batch run_with_resume)."""
    extracted = extract_stream(pages_stream, mode=mode, query=query)
    return (
        extracted.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
