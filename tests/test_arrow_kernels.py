"""r6 optimization guards: the Arrow kernels that replaced per-row JVM
HOF shapes (winnow fingerprints, simhash, LSH-scale minhash) must stay
BIT-IDENTICAL to the original expressions — same md5 digests, exact
integer math. Each test recomputes the r5 JVM shape inline and compares
against the kernel-backed operator on the sf0.01 corpus."""

import pytest
from pyspark.sql import functions as F

from xqspark.pipeline import build_session
from xqspark.queries import (
    QUERIES,
    _MERSENNE31,
    _docs,
    _mh_params,
    _winnow_fps,
    minhash_sig_df,
)

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    s = build_session(cpus=4, app="xq-kernel-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _toks(spark, min_size):
    return (
        _docs(spark, SF_DIR)
        .select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t"))
        .withColumn("t", F.expr("filter(t, x -> x != '')"))
        .filter(F.size("t") >= min_size)
    )


def test_winnow_fps_kernel_matches_jvm_hofs(spark):
    grams = _toks(spark, 6).select(
        "doc_id",
        F.expr(
            "transform(sequence(0, size(t) - 3), i -> "
            "cast(conv(substring(md5(encode(concat(t[i], ' ', t[i + 1], "
            "' ', t[i + 2]), 'UTF-8')), 1, 8), 16, 10) as bigint))"
        ).alias("h"),
    )
    jvm = grams.select(
        "doc_id",
        F.expr(
            "array_distinct(transform(sequence(0, size(h) - 4), "
            "j -> array_min(slice(h, j + 1, 4))))"
        ).alias("fps"),
    )
    # the kernel emits the set SORTED; compare as sets (every consumer
    # is order-insensitive: size/min/xor aggregates, exploded join)
    old = {r["doc_id"]: frozenset(r["fps"]) for r in jvm.collect()}
    new = {
        r["doc_id"]: frozenset(r["fps"])
        for r in _winnow_fps(spark, SF_DIR).collect()
    }
    assert old == new and len(old) == 500


def test_simhash_kernel_matches_jvm_aggregates(spark):
    hashed = _toks(spark, 1).select(
        "doc_id",
        F.size("t").alias("n"),
        F.expr("transform(t, tok -> md5(encode(tok, 'UTF-8')))").alias("hs"),
    )
    words = hashed.select(
        "doc_id",
        "n",
        *[
            F.expr(
                f"transform(hs, m -> cast(conv(substring(m, {1 + 4 * w}, 4),"
                " 16, 10) as int))"
            ).alias(f"ws{w}")
            for w in range(4)
        ],
    )
    agg = lambda w: (  # noqa: E731
        f"aggregate(ws{w}, array_repeat(0L, 16), "
        f"(acc, x) -> transform(acc, (a, b) -> a + (shiftright(x, b) & 1)), "
        f"acc -> aggregate(sequence(0, 15), 0L, "
        f"(wv, b) -> wv + if(2 * element_at(acc, b + 1) > n, "
        f"shiftleft(1L, b), 0L)))"
    )
    jvm = words.select(
        "doc_id",
        *[F.expr(agg(w)).cast("long").alias(f"simhash_w{w}") for w in range(4)],
    )
    old = {tuple(r) for r in jvm.collect()}
    new = {tuple(r) for r in QUERIES["simhash"](spark, SF_DIR).collect()}
    assert old == new and len(old) == 500


def test_minhash_kernel_matches_jvm_hofs_at_lsh_scale(spark):
    n_hashes = 64  # the 16x4 bench shape that routes to the kernel
    d = _docs(spark, SF_DIR).select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    ).filter(F.size("t") >= 3)
    sh = d.select(
        "doc_id",
        F.expr(
            "transform(sequence(0, size(t)-3), "
            "i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))"
        ).alias("sh"),
    )
    hsh = sh.select(
        "doc_id",
        F.expr(
            "transform(sh, s -> cast(conv(substring(md5(encode(s, 'UTF-8')),"
            " 1, 8), 16, 10) as bigint))"
        ).alias("h"),
    )
    mh = [
        F.expr(
            f"array_min(transform(h, x -> pmod({a}L * x + {b}L,"
            f" {_MERSENNE31}L)))"
        ).alias(f"mh{k}")
        for k, (a, b) in enumerate(_mh_params(n_hashes), start=1)
    ]
    old = {tuple(r) for r in hsh.select("doc_id", *mh).collect()}
    new = {
        tuple(r)
        for r in minhash_sig_df(_docs(spark, SF_DIR), n_hashes=n_hashes).collect()
    }
    assert old == new and len(old) == 500


def test_kernel_paths_stay_map_only(spark):
    """The kernel swap must not change the 100 TB plan shape: map-only,
    no Generate, no data exchange beyond the adaptive input spread."""
    from test_plans import data_exchanges

    for df in (
        QUERIES["winnow_fp"](spark, SF_DIR),
        QUERIES["simhash"](spark, SF_DIR),
        minhash_sig_df(_docs(spark, SF_DIR), n_hashes=64),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert data_exchanges(plan) == 0, plan[:1500]
        assert "Generate" not in plan, plan[:1500]


def test_ivf_assign_kernel_matches_jvm_hof_argmax(spark):
    """The IVF assignment kernel (r6: broadcast-closure centroids,
    sequential-fold dots, first-max tie-break) must reproduce the old
    plan-literal JVM shape bucket-for-bucket, and the driver-side query
    branch of _bucket_topk must agree with both."""
    from xqspark.queries import _assign_buckets, _emb, _seed_centroids

    emb = _emb(spark, SF_DIR, spread=False).select(
        "vec_id", F.col("embedding").alias("v")
    )
    cents = [[float(x) for x in cv] for cv in _seed_centroids(emb, 8)]
    # the r5 JVM expression, verbatim
    cents_col = F.array(*[F.array(*[F.lit(x) for x in cv]) for cv in cents])
    dots = (
        "transform(_cents, c -> aggregate(zip_with(v, c, "
        "(x, y) -> cast(x as double) * y), 0D, (acc, q) -> acc + q))"
    )
    jvm = (
        emb.withColumn("_cents", cents_col)
        .withColumn("_dots", F.expr(dots))
        .withColumn(
            "bucket",
            F.expr(
                "cast(array_position(_dots, array_max(_dots)) - 1 as bigint)"
            ),
        )
        .select("vec_id", "bucket")
    )
    old = {r["vec_id"]: r["bucket"] for r in jvm.collect()}
    new = {
        r["vec_id"]: r["bucket"]
        for r in _assign_buckets(emb, cents).select("vec_id", "bucket").collect()
    }
    assert old == new and len(old) == 500
    # driver-side fold (the _bucket_topk query branch) agrees too
    for r in emb.filter(F.col("vec_id") < 5).collect():
        v = [float(x) for x in r["v"]]
        ds = []
        for c in cents:
            acc = 0.0
            for x, y in zip(v, c):
                acc += x * y
            ds.append(acc)
        assert ds.index(max(ds)) == old[r["vec_id"]]


def test_round_half_up_matches_spark_round(spark):
    """_round_half_up (driver-side centroid rounding) must equal
    F.round on doubles, including exact .5-at-6dp boundaries where
    Python's builtin banker's round would diverge."""
    from xqspark.queries import _round_half_up

    vals = [0.1234565, 0.1234575, -0.1234565, 1.9999995, 0.33333333333,
            -2.7182818, 123.45678949999, 5e-07, -5e-07, 0.0]
    rows = spark.createDataFrame(
        [(v,) for v in vals], "x double"
    ).select(F.round("x", 6).alias("r")).collect()
    for v, r in zip(vals, rows):
        assert _round_half_up(v, 6) == r["r"], v


# --- map_arrow / list_parts without Spark ---------------------------------
# map_arrow hands mapInArrow a generator over Arrow batches; a stand-in
# DataFrame captures it, so the kernels run on hand-built batches and are
# compared row by row with plain-Python references.


class _Capture:
    def select(self, *cols):
        self.cols = cols
        return self

    def mapInArrow(self, run, schema):
        return run


def _map(inputs, fn, fields, keep, batches):
    from pyspark.sql import types as T

    from xqspark.udfs import map_arrow

    schema = T.StructType([T.StructField(n, t) for n, t in fields])
    df = _Capture()
    run = map_arrow(df, inputs, fn, schema, keep)
    return df.cols, list(run(iter(batches)))


def _rows(out):
    return [r for b in out for r in b.to_pylist()]


def _hash_batch(seed, n_rows=9):
    """doc_id, h (list<int64> k-gram hashes) and w0..w3 (list<int32>
    16-bit words, as long as h), with varied row lengths."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    lens = rng.integers(6, 20, n_rows)
    h = [rng.integers(0, 2**32, n).tolist() for n in lens]
    ws = [[rng.integers(0, 2**16, n).tolist() for n in lens] for _ in range(4)]
    return pa.RecordBatch.from_arrays(
        [
            pa.array(range(100, 100 + n_rows), pa.int64()),
            pa.array(h, pa.list_(pa.int64())),
        ]
        + [pa.array(w, pa.list_(pa.int32())) for w in ws],
        ["doc_id", "h"] + [f"w{i}" for i in range(4)],
    )


def _vec_batch(seed, n_rows=40, dim=5):
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    vs = rng.standard_normal((n_rows, dim)).astype(np.float32).tolist()
    return pa.RecordBatch.from_arrays(
        [pa.array(range(n_rows), pa.int64()), pa.array(vs, pa.list_(pa.float32()))],
        ["vec_id", "v"],
    )


def _cents(seed, k):
    vs = _vec_batch(seed, n_rows=k).column("v").to_pylist()
    return [[float(x) for x in v] for v in vs]


def _dots_ref(v, cents):
    out = []
    for c in cents:
        acc = 0.0
        for x, y in zip(v, c):
            acc += float(x) * y
        out.append(acc)
    return out


def test_list_parts_rebases_sliced_offsets():
    from xqspark.udfs import list_parts

    batch = _hash_batch(1).slice(3, 4)
    h = batch.column("h")
    assert h.offsets[0].as_py() > 0  # the slice does not start at 0
    values, offs = list_parts(h)
    assert offs[0] == 0
    assert [values[a:b].tolist() for a, b in zip(offs[:-1], offs[1:])] == h.to_pylist()


def test_hash_kernels_on_sliced_batch_match_per_row_reference():
    from pyspark.sql import types as T

    from xqspark.queries import _minhash_kernel, _simhash_kernel, _winnow_fps_kernel

    L = T.LongType()
    batch = _hash_batch(2).slice(2, 5)
    ids = batch.column("doc_id").to_pylist()
    hs = batch.column("h").to_pylist()

    w = 4
    fps = [("doc_id", L), ("fps", T.ArrayType(L))]
    _, out = _map(["h"], _winnow_fps_kernel(w), fps, ("doc_id",), [batch])
    assert _rows(out) == [
        {"doc_id": i, "fps": sorted({min(h[j:j + w]) for j in range(len(h) - w + 1)})}
        for i, h in zip(ids, hs)
    ]

    n = 8
    mh = [(f"mh{j + 1}", L) for j in range(n)]
    _, out = _map(["h"], _minhash_kernel(n), [("doc_id", L)] + mh, ("doc_id",), [batch])
    assert _rows(out) == [
        {"doc_id": i, **{
            f"mh{j + 1}": min((a * x + b) % _MERSENNE31 for x in h)
            for j, (a, b) in enumerate(_mh_params(n))
        }}
        for i, h in zip(ids, hs)
    ]

    words = [batch.column(f"w{k}").to_pylist() for k in range(4)]
    names = [f"simhash_w{k}" for k in range(4)]
    _, out = _map([f"w{k}" for k in range(4)], _simhash_kernel,
                  [("doc_id", L)] + [(c, L) for c in names], ("doc_id",), [batch])

    def vote(xs):
        ones = [sum((x >> b) & 1 for x in xs) for b in range(16)]
        return sum(1 << b for b, n in enumerate(ones) if 2 * n > len(xs))

    assert _rows(out) == [
        {"doc_id": i, **{c: vote(words[k][r]) for k, c in enumerate(names)}}
        for r, i in enumerate(ids)
    ]


def test_map_arrow_skips_empty_batches():
    from pyspark.sql import types as T

    from xqspark.queries import _winnow_fps_kernel

    L = T.LongType()
    batch = _hash_batch(3)
    fps = [("doc_id", L), ("fps", T.ArrayType(L))]
    cols, out = _map(["h"], _winnow_fps_kernel(4), fps, ("doc_id",),
                     [batch.slice(0, 0), batch.slice(4, 0)])
    assert cols == ("doc_id", "h") and out == []


def test_assign_kernel_selects_shared_column_once():
    from pyspark.sql import types as T

    from xqspark.queries import _assign_kernel

    batch = _vec_batch(4).slice(7, 20)
    cents = _cents(5, 3)
    L = T.LongType()
    cols, out = _map(["v"], _assign_kernel(cents),
                     [("vec_id", L), ("v", T.ArrayType(T.FloatType())), ("bucket", L)],
                     ("vec_id", "v"), [batch])
    assert cols == ("vec_id", "v")
    want = []
    for r in batch.to_pylist():
        ds = _dots_ref(r["v"], cents)
        want.append({**r, "bucket": ds.index(max(ds))})
    assert _rows(out) == want


def test_train_partials_rows_do_not_align_with_input():
    from pyspark.sql import types as T

    from xqspark.queries import _train_partials_kernel

    batch = _vec_batch(6).slice(5, 30)
    cents = _cents(7, 4)
    L = T.LongType()
    cols, out = _map(["v"], _train_partials_kernel(cents),
                     [("bucket", L), ("cnt", L), ("s", T.ArrayType(T.DoubleType()))],
                     (), [batch])
    assert cols == ("v",)
    want = {}
    for v in batch.column("v").to_pylist():
        ds = _dots_ref(v, cents)
        b = ds.index(max(ds))
        cnt, s = want.get(b, (0, [0.0] * len(v)))
        want[b] = (cnt + 1, [a + float(x) for a, x in zip(s, v)])
    got = _rows(out)
    assert len(got) == len(want) < batch.num_rows
    assert {r["bucket"]: (r["cnt"], r["s"]) for r in got} == want


def test_map_docs_runs_fn_per_row_and_transposes():
    import pyarrow as pa
    from pyspark.sql import types as T

    from xqspark.udfs import map_docs

    batch = pa.RecordBatch.from_arrays(
        [pa.array([1, 2, 3], pa.int64()), pa.array([b"ab", None, b"cde"])],
        ["doc_id", "payload"],
    )
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("upper", T.StringType()),
    ])
    df = _Capture()
    run = map_docs(
        df, "payload",
        lambda p: (None, None) if p is None else (len(p), p.decode().upper()),
        schema, keep=("doc_id",),
    )
    assert df.cols == ("doc_id", "payload")
    assert _rows(run(iter([batch.slice(1, 2), batch.slice(0, 0)]))) == [
        {"doc_id": 2, "n": None, "upper": None},
        {"doc_id": 3, "n": 3, "upper": "CDE"},
    ]
