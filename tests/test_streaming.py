"""Structured Streaming extraction tests: file-drop source -> extract ->
exactly-once parquet sink with checkpoint; windowed lineage with watermark."""

import shutil
import tempfile

import pytest

from xqspark.pipeline import build_session, synthesize_pages
from xqspark.streaming import read_pages_stream, run_stream_to_parquet, windowed_lineage


@pytest.fixture(scope="module")
def spark():
    s = build_session(cpus=4, app="xq-streaming-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_stream_extraction_end_to_end(spark):
    base = tempfile.mkdtemp(prefix="xq_stream_")
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"
    try:
        pages = synthesize_pages(spark, n_rows=200, n_hosts=10)
        pages.coalesce(2).write.parquet(src)

        stream = read_pages_stream(spark, src)
        assert stream.isStreaming
        q = run_stream_to_parquet(stream, out, ckpt)
        q.awaitTermination(300)

        result = spark.read.parquet(out)
        assert result.count() == 200
        row = result.filter("url like '%/p7'").collect()[0]
        assert row["extracted"] == "Page 7\n"
        assert row["error"] is None

        # restart with no new files: checkpoint prevents reprocessing
        q2 = run_stream_to_parquet(read_pages_stream(spark, src), out, ckpt)
        q2.awaitTermination(300)
        assert spark.read.parquet(out).count() == 200
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_windowed_lineage_plan(spark):
    base = tempfile.mkdtemp(prefix="xq_wl_")
    try:
        src = f"{base}/src"
        synthesize_pages(spark, n_rows=100, n_hosts=5).write.parquet(src)
        stream = read_pages_stream(spark, src)
        lin = windowed_lineage(stream, window="1 hour", watermark="2 hours")
        assert lin.isStreaming
        q = (
            lin.writeStream.format("memory")
            .queryName("lineage_mem")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        rows = spark.sql("select * from lineage_mem").collect()
        assert sum(r["docs"] for r in rows) == 100
        assert all(r["bytes"] > 0 for r in rows)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stateful_dedup_across_microbatches(spark):
    """applyInPandasWithState: a url seen in batch 1 is suppressed when it
    reappears in batch 2 (state survives across microbatches)."""
    import pyspark.sql.functions as F
    from xqspark.streaming import dedup_stream

    base = tempfile.mkdtemp(prefix="xq_dedup_")
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    try:
        pages = synthesize_pages(spark, n_rows=100, n_hosts=5)
        pages.coalesce(1).write.parquet(src)  # file 1
        # file 2: 50 duplicate urls + 20 fresh ones (ids 100..119)
        dup = pages.limit(50)
        fresh = synthesize_pages(spark, n_rows=120, n_hosts=5).filter("url like '%/p1__'")
        dup.union(fresh).coalesce(1).write.mode("append").parquet(src)

        stream = (
            spark.readStream.schema(pages.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        deduped = dedup_stream(stream)
        q = (
            deduped.writeStream.format("memory")
            .queryName("dedup_mem")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = spark.sql("select url from dedup_mem").collect()
        urls = [r["url"] for r in got]
        assert len(urls) == len(set(urls)), "duplicates leaked through"
        assert len(urls) == 120  # 100 originals + 20 fresh, 50 dups dropped
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_bloom_state_bounded_100k_urls_one_host():
    """10^5 distinct urls on ONE host: state stays at exactly
    2 x bloom_bits/8 bytes (rotating generations), recent re-seen urls
    still dedupe, and false-positive loss is tiny (VERDICT r1 #6)."""
    from xqspark.streaming import _bloom_add, _bloom_has, _bloom_indexes

    bits = 1 << 20
    n_bytes = bits >> 3
    capacity = bits // 16
    cur, prev, n_cur = bytearray(n_bytes), bytes(n_bytes), 0
    passed = rotations = 0
    for i in range(100_000):
        idxs = _bloom_indexes(f"http://big.example.com/page{i}", bits)
        if _bloom_has(cur, idxs) or _bloom_has(prev, idxs):
            continue
        _bloom_add(cur, idxs)
        n_cur += 1
        if n_cur >= capacity:
            prev, cur, n_cur = bytes(cur), bytearray(n_bytes), 0
            rotations += 1
        passed += 1
    assert len(cur) + len(prev) == 2 * n_bytes  # bounded, by construction
    assert rotations == 1  # 100k inserts through a 65536 capacity
    assert passed >= 99_000  # false positives are the only loss
    # a url seen in the CURRENT generation stays deduped
    idxs = _bloom_indexes("http://big.example.com/page99999", bits)
    assert _bloom_has(cur, idxs) or _bloom_has(prev, idxs)


def test_dedup_stream_rotation_through_operator(spark):
    """Small bloom forces generation rotation inside the real
    applyInPandasWithState operator; exact duplicates still drop."""
    from xqspark.streaming import dedup_stream

    base = tempfile.mkdtemp(prefix="xq_dedup_rot_")
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    try:
        rows = [
            (f"http://one.example.com/p{i}", None, b"<x/>", "x", "en")
            for i in range(3000)
        ]
        df = spark.createDataFrame(rows, schema=synthesize_pages(spark, n_rows=1).schema)
        df.coalesce(1).write.parquet(src)
        # batch 2: the 500 most RECENT urls (still inside the current/
        # previous generations -> must drop) + 100 fresh. Urls older than
        # two generations age out and may re-pass — that is the designed
        # sliding-generation trade, so they are not replayed here.
        fresh = [
            (f"http://one.example.com/fresh{i}", None, b"<x/>", "x", "en")
            for i in range(100)
        ]
        spark.createDataFrame(rows[-500:] + fresh, schema=df.schema).coalesce(
            1
        ).write.mode("append").parquet(src)

        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        # capacity = 16384/16 = 1024 -> multiple rotations over 3000 urls
        deduped = dedup_stream(stream, bloom_bits=1 << 14)
        q = (
            deduped.writeStream.format("memory")
            .queryName("dedup_rot_mem")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        urls = [r["url"] for r in spark.sql("select url from dedup_rot_mem").collect()]
        assert len(urls) == len(set(urls)), "recent duplicates leaked"
        n_fresh = sum(1 for u in urls if "/fresh" in u)
        assert n_fresh >= 98  # fresh urls pass (minus rare bloom FP)
        assert sum(1 for u in urls if "/p" in u) >= 2900  # batch-1 originals
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_dedup_stream_ttl_expiry_under_available_now(spark):
    """VERDICT r4 #8: TTL must be testable under trigger(availableNow).
    Read-time expiry (no processing-time timers): drain run 1 seeds the
    state and TERMINATES; after sleeping past the TTL, drain run 2 on
    the same checkpoint sees the state as expired, so the SAME urls
    pass again. A no-TTL control on the same inputs drops them."""
    import time

    from xqspark.streaming import dedup_stream

    def run(ttl_minutes, tag):
        base = tempfile.mkdtemp(prefix=f"xq_dedup_ttl_{tag}_")
        src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"
        try:
            pages = synthesize_pages(spark, n_rows=40, n_hosts=4)
            pages.coalesce(1).write.parquet(src)

            def drain():
                # durable sink: the memory sink can't recover from a
                # checkpoint, and checkpoint recovery IS the scenario
                stream = (
                    spark.readStream.schema(pages.schema)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(src)
                )
                q = (
                    dedup_stream(stream, ttl_minutes=ttl_minutes)
                    .writeStream.format("parquet")
                    .option("path", out)
                    .option("checkpointLocation", ckpt)
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                assert q.awaitTermination(300), "drain run must terminate"

            drain()
            time.sleep(2.5)  # past the 2.4 s TTL (when one is set)
            # replay the SAME 40 urls as a new file
            pages.coalesce(1).write.mode("append").parquet(src)
            drain()
            return spark.read.parquet(out).count()
        finally:
            shutil.rmtree(base, ignore_errors=True)

    assert run(0.04, "on") == 80  # state expired -> replayed urls re-pass
    assert run(0, "off") == 40  # control: no TTL -> replays dropped


def test_bloom_indexes_support_any_k():
    from xqspark.streaming import _bloom_indexes

    idxs = _bloom_indexes("http://x/1", 1 << 14, k=8)
    assert len(idxs) == 8
    assert len(set(idxs)) >= 6  # double hashing: no degenerate constant
    assert all(0 <= i < (1 << 14) for i in idxs)


def test_stream_main_content_mode(spark):
    """main-content boilerplate strip flows through the streaming path
    unchanged (stateless mapInPandas is streaming-safe)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from xqspark.pipeline import PAGES_SCHEMA
    from xqspark.streaming import extract_stream, read_pages_stream

    base = tempfile.mkdtemp(prefix="xq_stream_mc_")
    try:
        page = ('<html><body><div id="nav"><a href="/">Home</a> '
                '<a href="/a">About</a> <a href="/b">More</a></div>'
                '<div id="m"><p>genuine streaming article content with '
                'plenty of words for page %d</p></div>'
                '<div id="f"><a href="/p">Privacy</a> (c)</div></body></html>')
        rows = [(f"http://h{i}.example/p", None, (page % i).encode(), "", "en")
                for i in range(8)]
        spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1).write.parquet(
            f"{base}/src"
        )
        extracted = extract_stream(
            read_pages_stream(spark, f"{base}/src"), mode="main-content"
        )
        q = (
            extracted.writeStream.format("memory")
            .queryName("mc_stream")
            .option("checkpointLocation", f"{base}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = spark.sql("select * from mc_stream").collect()
        assert len(got) == 8
        for r in got:
            assert r["error"] is None
            assert r["extracted"].startswith("genuine streaming article")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_neardup_ingest_incremental(spark):
    """Incremental near-dup ingestion: batch 2's exact re-text of an
    already-ingested doc must drop against the band STORE; in-batch
    duplicates collapse to one; fresh docs pass. A rerun on the same
    checkpoint must not reprocess (exactly-once)."""
    import pyspark.sql.functions as F

    from xqspark.pipeline import PAGES_SCHEMA
    from xqspark.streaming import neardup_ingest

    base = tempfile.mkdtemp(prefix="xq_ndi_")
    src, out, store, ckpt = (
        f"{base}/src", f"{base}/out", f"{base}/store", f"{base}/ckpt"
    )
    texts = {
        "a": "alpha beta gamma delta epsilon zeta eta theta",
        "b": "one two three four five six seven eight nine",
        "c": "red orange yellow green blue indigo violet colors",
        "fresh": "totally new content words appearing only later here",
    }

    def row(url, key):
        return (url, None, b"<x/>", texts[key], "en")

    try:
        # batch 1: a, b, c + an in-batch duplicate of b
        spark.createDataFrame(
            [row("http://h/a", "a"), row("http://h/b", "b"),
             row("http://h/c", "c"), row("http://h/b2", "b")],
            PAGES_SCHEMA,
        ).coalesce(1).write.parquet(src)
        # batch 2: near-dup of a (same text, new url) + fresh
        spark.createDataFrame(
            [row("http://h/a2", "a"), row("http://h/fresh", "fresh")],
            PAGES_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(src)

        def run():
            stream = (
                spark.readStream.schema(PAGES_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = neardup_ingest(stream, out, store, ckpt)
            assert q.awaitTermination(300)

        run()
        got = spark.read.parquet(out)
        urls = sorted(r["url"] for r in got.collect())
        assert urls == [
            "http://h/a", "http://h/b", "http://h/c", "http://h/fresh"
        ], urls  # b2 (in-batch dup) and a2 (store dup) dropped
        # the store holds bands only for KEPT docs
        store_urls = {
            r["url"] for r in spark.read.parquet(f"{store}/bands").collect()
        }
        assert store_urls == set(urls)
        # rerun on the same checkpoint: no new batches, output unchanged
        run()
        assert spark.read.parquet(out).count() == 4
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_neardup_ingest_replay_keeps_output(spark):
    """Crash-replay safety (code-review r5 find): a batch replayed
    AFTER its band-store write committed but BEFORE the checkpoint did
    must not collide with its own first-attempt bands — the rerun must
    reproduce the same output, not overwrite it with an empty one."""
    from xqspark.pipeline import PAGES_SCHEMA
    from xqspark.streaming import _neardup_ingest_batch

    base = tempfile.mkdtemp(prefix="xq_ndi_replay_")
    out, store = f"{base}/out", f"{base}/store"
    try:
        batch = spark.createDataFrame(
            [
                ("http://h/x", None, b"<x/>", "unique words for doc x here now", "en"),
                ("http://h/y", None, b"<x/>", "other content entirely different words", "en"),
            ],
            PAGES_SCHEMA,
        )
        _neardup_ingest_batch(batch, 0, out, store)
        first = {r["url"] for r in spark.read.parquet(out).collect()}
        assert first == {"http://h/x", "http://h/y"}
        # simulate the crash-replay: same batch, same batch_id, with the
        # first attempt's bands already in the store
        _neardup_ingest_batch(batch, 0, out, store)
        again = {r["url"] for r in spark.read.parquet(out).collect()}
        assert again == first, "replay emptied the batch output"
        # and a LATER batch still drops against batch 0's bands
        dup = spark.createDataFrame(
            [("http://h/x2", None, b"<x/>", "unique words for doc x here now", "en")],
            PAGES_SCHEMA,
        )
        _neardup_ingest_batch(dup, 1, out, store)
        all_urls = {r["url"] for r in spark.read.parquet(out).collect()}
        assert all_urls == first  # x2 dropped as a near-dup of x
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_compact_band_store_preserves_dedup(spark):
    """Compacting the band store between triggers must not change
    semantics: later batches still drop against pre-compaction bands,
    and the partition count shrinks to one."""
    import os

    from xqspark.pipeline import PAGES_SCHEMA
    from xqspark.streaming import _neardup_ingest_batch, compact_band_store

    base = tempfile.mkdtemp(prefix="xq_compact_")
    out, store = f"{base}/out", f"{base}/store"

    def row(url, text):
        return (url, None, b"<x/>", text, "en")

    try:
        b0 = spark.createDataFrame(
            [row("http://h/a", "alpha beta gamma delta content words")],
            PAGES_SCHEMA,
        )
        b1 = spark.createDataFrame(
            [row("http://h/b", "completely different second document text")],
            PAGES_SCHEMA,
        )
        _neardup_ingest_batch(b0, 0, out, store)
        _neardup_ingest_batch(b1, 1, out, store)
        n = compact_band_store(spark, store)
        assert n == 1
        parts = [
            e for e in os.listdir(f"{store}/bands")
            if e.startswith("ingest_batch=")
        ]
        assert parts == ["ingest_batch=1"]
        # a later batch replaying content from batch 0 still drops
        b2 = spark.createDataFrame(
            [row("http://h/a2", "alpha beta gamma delta content words"),
             row("http://h/c", "yet another brand new page body here")],
            PAGES_SCHEMA,
        )
        _neardup_ingest_batch(b2, 2, out, store)
        urls = {r["url"] for r in spark.read.parquet(out).collect()}
        assert urls == {"http://h/a", "http://h/b", "http://h/c"}
    finally:
        shutil.rmtree(base, ignore_errors=True)
