"""Seeded input generator for the four benchmark workloads.

Every input is a pure function of (workload, seed, size): the same seed
gives byte-identical parquet. The program under test only ever sees the
parquet written here. ``generate`` returns the path plus a ``traffic``
record describing what was generated (document count, bytes per
document, host skew, malformed and null shares, file layout, planted
clusters) and how long generation took.
"""

from __future__ import annotations

import os
import time
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "the of and to in is was for on that with as by at from his her an "
    "are were this which be or had not have one but all they their been "
    "has when who will more no if out so said what up its about into "
    "than them can only other new some could time these two may then do "
    "first any my now such like our over man me even most made after "
    "also did many before must through back years where much your way "
    "well down should because each just those people how too little "
    "state good very make world still own see men work long get here "
    "between both life being under never day same another know while "
    "last might us great old year off come since against go came right "
    "used take three river market garden engine signal harbor letter "
    "winter summer crystal forest window mirror ladder pocket silver "
    "copper marble thunder lantern compass anchor meadow canyon glacier"
).split()

# pipeline.PAGES_SCHEMA, written with pyarrow so generation needs no JVM
PAGES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)

# the documents schema of the repo's bench corpora
DOCS_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.int64()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
        pa.field("source", pa.string()),
        pa.field("n_chars", pa.int64()),
    ]
)

BOILERPLATE_DOCS = 100  # one identical cluster, larger than band_cap=64
# near-dup shape of the sf0.1 documents table (see _neardup_docs)
DOC_WORDS = WORDS[:31]
DUP_SHARE = 0.102
CLUSTER_SIZES = np.array([2, 6, 12])
CLUSTER_P = np.array([223, 9, 1]) / 233


class _Phrases:
    """``n`` random words per call, drawn from a pool of 64 seeded phrases
    per length, so pages of tens of KB are cheap to build. Choices come
    from one pre-drawn index stream."""

    def __init__(self, rng):
        self._rng = rng
        self._pool: dict[int, list[str]] = {}
        self._idx = iter(())

    def __call__(self, n: int) -> str:
        pool = self._pool.get(n)
        if pool is None:
            pool = self._pool[n] = [
                " ".join(WORDS[i] for i in self._rng.integers(0, len(WORDS), n))
                for _ in range(64)
            ]
        j = next(self._idx, None)
        if j is None:
            self._idx = iter(self._rng.integers(0, 64, 1 << 16).tolist())
            j = next(self._idx)
        return pool[j]


def _zipf_hosts(rng, n: int, n_hosts: int, hot_share: float = 0.0):
    """Host rank per row: weight 1/h over ``n_hosts`` hosts; with
    ``hot_share`` > 0, host 1 owns that share and the rest follow Zipf."""
    w = 1.0 / np.arange(1, n_hosts + 1)
    if hot_share:
        rest = w[1:] / w[1:].sum() * (1.0 - hot_share)
        w = np.concatenate([[hot_share], rest])
    return rng.choice(np.arange(1, n_hosts + 1), size=n, p=w / w.sum())


def _feed_page(words: _Phrases, host: int, i: int, target: int, amp: bool) -> str:
    """A ``target``-byte RSS-like document; its first <title> is what
    //title returns. ``amp`` puts an entity in that title."""
    sep = " &amp; " if amp else " and "
    parts = [
        '<?xml version="1.0" encoding="utf-8"?>\n<rss version="2.0"><channel>',
        f"<title>{words(4)}{sep}{words(2)} #{i}</title>",
        f"<link>http://host{host}.example/</link>",
        f"<description>{words(12)}</description>",
    ]
    size = sum(len(p) for p in parts)
    item = 0
    while size < target:
        p = (
            f'<item id="{item}"><title>{words(5)}</title>'
            f"<link>http://host{host}.example/p{i}/{item}</link>"
            f"<pubDate>2024-01-{1 + item % 28:02d}</pubDate>"
            f"<description>{words(20)}</description></item>"
        )
        parts.append(p)
        size += len(p)
        item += 1
    parts.append("</channel></rss>")
    return "".join(parts)


def _small_pages(rng, n: int, hot_share: float):
    """xml_title_small / resume_skewed rows: 1-3 KB feeds; about 0.5% null
    html, 1% truncated, 1% with invalid bytes, 10% with a title entity."""
    words = _Phrases(rng)
    hosts = _zipf_hosts(rng, n, 100, hot_share)
    sizes = rng.integers(1000, 3000, n).tolist()
    damage = rng.random(n).tolist()
    cuts = rng.random(n).tolist()
    urls, htmls, kinds = [], [], []
    for i in range(n):
        urls.append(f"http://host{hosts[i]}.example/p{i}")
        d = damage[i]
        if d < 0.005:
            htmls.append(None)
            kinds.append("null")
            continue
        body = _feed_page(words, hosts[i], i, sizes[i], d > 0.9).encode()
        cut = 60 + int(cuts[i] * (len(body) - 80))
        if d < 0.015:
            body = body[:cut]
            kinds.append("truncated")
        elif d < 0.025:
            body = body[:cut] + b"\xff\xfe\x00\xc3" + body[cut:]
            kinds.append("invalid_bytes")
        else:
            kinds.append("ok")
        htmls.append(body)
    return urls, htmls, hosts, kinds


def _nav(words: _Phrases, host: int, k: int) -> str:
    return "".join(
        f'<li><a href="http://host{host}.example/s/{j}">{words(2)}</a></li>'
        for j in range(k)
    )


def _html_page(words: _Phrases, host: int, i: int, target: int, charset: str) -> bytes:
    """A Common-Crawl-like article page of about ``target`` bytes: script
    and style blocks, link-dense nav and footer, unclosed <p>/<li>,
    entities, and the declared charset."""
    head = (
        f'<!DOCTYPE html>\n<html lang="en"><head><meta charset="{charset}">'
        f"<title>{words(6)}</title>"
        "<style>body{margin:0}.nav a{color:#333}p>span{font-weight:bold}</style>"
        "<script>var w=window.innerWidth;if(w<600&&w>0){document.body.className='m'}"
        "function t(a,b){return a<b?a:b}</script></head><body>"
        f'<header><nav class="nav"><ul>{_nav(words, host, 12)}</ul></nav></header>'
        f'<aside><ul>{_nav(words, host, 8)}</ul></aside><div id="content"><article>'
        f"<h1>{words(7)}</h1>"
    )
    tail = (
        "</article></div>"
        f"<footer><ul>{_nav(words, host, 15)}</ul><p>&copy; 2024 host{host}</footer>"
        '<script type="application/ld+json">{"@type":"Article","n":' + str(i) + "}</script>"
        "</body></html>"
    )
    parts = [head]
    size = len(head) + len(tail)
    k = 0
    while size < target:
        r = k % 7
        if r == 5:
            p = "<ul>" + "".join(f"<li>{words(8)}" for _ in range(5)) + "</ul>"
        elif r == 6:
            p = f'<p>{words(30)} &mdash; {words(10)} &#8217;s <a href="/r/{k}">{words(3)}</a>.'
        else:
            # <p> left unclosed: the next <p> implies the close
            p = f"<p>{words(60)}&nbsp;{words(20)} &amp; {words(5)}"
        parts.append(p)
        size += len(p)
        k += 1
    parts.append(tail)
    page = "".join(parts)
    if charset == "utf-8":
        return page.encode()
    # a non-UTF-8 page carries a byte outside ASCII in its charset
    return page.replace("&copy;", "©").encode(charset)


def _html_pages(rng, n: int):
    """Log-normal sizes, median 20 KB, clipped to 2-150 KB; 4% non-UTF-8."""
    words = _Phrases(rng)
    hosts = _zipf_hosts(rng, n, 100)
    sizes = np.clip(rng.lognormal(np.log(20_000), 0.7, n), 2_000, 150_000).tolist()
    charsets = rng.choice(
        ["utf-8", "windows-1252", "iso-8859-1"], n, p=[0.96, 0.02, 0.02]
    ).tolist()
    urls, htmls, kinds = [], [], []
    for i in range(n):
        urls.append(f"https://host{hosts[i]}.example/a/{i}.html")
        htmls.append(_html_page(words, hosts[i], i, int(sizes[i]), charsets[i]))
        kinds.append("ok" if charsets[i] == "utf-8" else "non_utf8")
    return urls, htmls, hosts, kinds


def _neardup_docs(rng, n: int):
    """Texts shaped like the sf0.1 ``documents`` table of the repo's test
    data (TESTDATA.md), the table bench.py's lsh_pairs and dedup_keep run
    on. As there: 10-100 tokens drawn uniformly from 31 words, so unrelated
    texts share a few shingles and the 2x2 LSH of dedup_keep finds some
    false pairs; 10.2% of documents in near-dup clusters, with the
    table's cluster sizes (measured as its 16x4 LSH pairs of shingle
    Jaccard > 0.5: of 233 clusters, 223 pairs, 9 of 6 and 1 of 12); each
    copy its base text with one token appended. The one identical
    boilerplate cluster larger than band_cap is added on top.

    Returns the texts, each text's cluster id (0 = singleton,
    -1 = boilerplate) and the number of planted clusters."""

    def text() -> list:
        return [DOC_WORDS[i] for i in rng.integers(0, len(DOC_WORDS), int(rng.integers(10, 101)))]

    texts, cluster = [], []
    n_clusters = 0
    boiler_text = "accept cookies to continue " + " ".join(text()[:20])
    body = n - BOILERPLATE_DOCS
    while len(texts) < round(body * DUP_SHARE):
        base = text()
        n_clusters += 1
        for _ in range(int(rng.choice(CLUSTER_SIZES, p=CLUSTER_P))):
            texts.append(" ".join(base + [DOC_WORDS[int(rng.integers(0, len(DOC_WORDS)))]]))
            cluster.append(n_clusters)
    while len(texts) < body:
        texts.append(" ".join(text()))
        cluster.append(0)
    texts = texts[:body] + [boiler_text] * BOILERPLATE_DOCS
    cluster = cluster[:body] + [-1] * BOILERPLATE_DOCS
    order = rng.permutation(n)
    return [texts[j] for j in order], [cluster[j] for j in order], n_clusters


def _pct(a, q) -> float:
    return float(np.percentile(a, q)) if len(a) else 0.0


def generate(workload: str, seed: int, n: int, out_dir: str) -> dict:
    """Write ``workload``'s input of ``n`` documents under ``out_dir``.

    Returns {"path", "traffic"} plus what the output checks need: for
    pages, the urls and payloads; for documents, each doc's planted
    cluster id.
    """
    t0 = time.perf_counter()
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    os.makedirs(out_dir, exist_ok=True)
    info: dict = {}
    if workload == "neardup_dedup":
        texts, cluster, n_clusters = _neardup_docs(rng, n)
        table = pa.table(
            {
                "doc_id": np.arange(n, dtype=np.int64),
                "text": texts,
                "lang": ["en"] * n,
                "source": [f"src{j % 7}" for j in range(n)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            },
            schema=DOCS_SCHEMA,
        )
        file = os.path.join(out_dir, "documents.parquet")
        # one file, one row group: the bench corpora's layout, so the
        # queries' layout-derived input spread fires
        pq.write_table(table, file, row_group_size=n)
        sizes = np.array([len(t.encode()) for t in texts])
        info.update(path=out_dir, cluster=cluster)
        sizes_by_cluster = Counter(c for c in cluster if c > 0)
        traffic = {
            "planted_clusters": n_clusters,
            "planted_cluster_sizes": dict(sorted(Counter(sizes_by_cluster.values()).items())),
            "neardup_doc_share": round(sum(sizes_by_cluster.values()) / n, 4),
            "boilerplate_docs": BOILERPLATE_DOCS,
            "malformed_share": 0.0,
            "null_share": 0.0,
        }
    else:
        if workload == "html_main_content":
            urls, htmls, hosts, kinds = _html_pages(rng, n)
        else:
            hot = 0.4 if workload == "resume_skewed" else 0.0
            urls, htmls, hosts, kinds = _small_pages(rng, n, hot)
        ts = np.datetime64("2024-01-01T00:00:00", "us") + np.arange(n) * np.timedelta64(1, "s")
        table = pa.table(
            {
                "url": urls,
                "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "html": pa.array(htmls, pa.binary()),
                "text": [""] * n,
                "lang": ["en"] * n,
            },
            schema=PAGES_SCHEMA,
        )
        file = os.path.join(out_dir, "pages.parquet")
        pq.write_table(table, file, row_group_size=max(1, -(-n // 4)))
        sizes = np.array([len(h) for h in htmls if h is not None])
        counts = np.bincount(hosts)
        info.update(path=file, urls=urls, html=htmls)
        traffic = {
            "planted_clusters": 0,
            "host_top_share": round(float(counts.max()) / n, 4),
            "malformed_share": round(
                sum(k in ("truncated", "invalid_bytes") for k in kinds) / n, 4
            ),
            "non_utf8_share": round(kinds.count("non_utf8") / n, 4),
            "null_share": round(kinds.count("null") / n, 4),
        }
    meta = pq.ParquetFile(file).metadata
    traffic.update(
        {
            "docs": n,
            "bytes_per_doc_median": _pct(sizes, 50),
            "bytes_per_doc_p99": _pct(sizes, 99),
            "input_mb": round(os.path.getsize(file) / 1e6, 3),
            "files": 1,
            "row_groups": meta.num_row_groups,
            "gen_s": round(time.perf_counter() - t0, 4),
        }
    )
    info["traffic"] = traffic
    return info
