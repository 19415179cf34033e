"""Replicates the driver's correctness gate locally: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB at sf0.01, compare
row-count + sorted-column value sets."""

import math

import duckdb
import pytest

import __spark_entry__ as entrymod
from xqspark.pipeline import build_session

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def spark():
    s = build_session(cpus=4, app="xq-contract")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM read_parquet('{SF_DIR}/{t}.parquet')")
    yield con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, int):
        return int(v)
    return str(v)


def _rows_to_set(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        out.append(tuple(_norm(row[i]) for i in order))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


ORACLE_KEYS = sorted(entrymod.oracle_sql().keys())


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_vs_oracle(spark, ddb, name):
    qdf = entrymod.queries()[name](spark, SF_DIR)
    spark_cols = [c.lower() for c in qdf.columns]
    spark_rows = [tuple(r) for r in qdf.collect()]

    rel = ddb.sql(entrymod.oracle_sql()[name])
    ddb_cols = [c.lower() for c in rel.columns]
    ddb_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(ddb_cols), f"{name}: column mismatch"
    assert len(spark_rows) == len(ddb_rows), f"{name}: row count"
    assert _rows_to_set(spark_cols, spark_rows) == _rows_to_set(ddb_cols, ddb_rows), name


def test_rows_only_queries(spark):
    for name in set(entrymod.queries()) - set(entrymod.oracle_sql()):
        df = entrymod.queries()[name](spark, SF_DIR)
        assert df.count() > 0, name


def test_queries_and_oracles_key_order_identical():
    """The driver-row rotation slices the first 50 entries of BOTH
    dicts; divergent key order would pair a query window with a
    different oracle window (code-review r5 find)."""
    import __spark_entry__ as e
    from xqspark.queries import ORACLES, QUERIES

    assert list(QUERIES) == list(ORACLES)
    assert list(e.queries()) == list(e.oracle_sql())


def test_every_xqspark_module_is_reached():
    """Every module under xqspark/ is reached from a non-test entry point
    through imports (absolute, relative, function-local) or an
    "xqspark.<mod>" string (xqspark._daemon is reached only through
    spark.python.daemon.module). A module only tests import is code that
    nothing here runs: delete it, or add the workload that runs it."""
    import ast
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    modules = {}
    for p in (root / "xqspark").rglob("*.py"):
        parts = p.relative_to(root).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        modules[".".join(parts)] = p

    def package_of(name):
        return name if modules[name].name == "__init__.py" else name.rpartition(".")[0]

    def names_in(path, importer):
        tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                yield from (a.name for a in node.names)
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    if importer is None:
                        continue
                    pkg = package_of(importer).split(".")
                    pkg = pkg[: len(pkg) - node.level + 1]
                    base = ".".join(pkg + ([base] if base else []))
                yield base
                yield from (f"{base}.{a.name}" for a in node.names)
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                yield from re.findall(r"\bxqspark(?:\.\w+)+", node.value)

    roots = [root / "__spark_entry__.py", root / "bench.py", root / "bench_extra.py"]
    roots += sorted((root / "perfbench").rglob("*.py"))
    roots += sorted((root / "examples").glob("*.py"))
    roots += sorted((root / "tools").glob("*.py"))
    todo = [(p, None) for p in roots]
    todo += [(modules[m], m) for m in ("xqspark.cli", "xqspark.__main__")]
    reached = {"xqspark.cli", "xqspark.__main__"}
    while todo:
        path, importer = todo.pop()
        for name in names_in(path, importer):
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in modules and mod not in reached:
                    reached.add(mod)
                    todo.append((modules[mod], mod))

    assert sorted(set(modules) - reached) == []


# Every token op, on texts whose whitespace edges Spark's split(trim(...))
# turns into '' tokens: a leading newline, a trailing tab, empty text
# (twice in a row, so jaccard_adjacent divides two empty sets) and
# whitespace-only text.
TOKEN_OPS = [
    "dedup_groups", "minhash_sig", "lsh_pairs", "jaccard_adjacent",
    "decontaminate", "repetition", "line_dedup", "winnow_fp",
    "winnow_pairs", "simhash", "simhash_pairs", "dedup_clusters",
    "dedup_keep", "link_graph", "c4_filter", "ngram_counts",
    "unigram_logprob", "corpus_stats", "quality_score",
]
EDGE_TEXTS = [
    "\nalpha beta gamma delta epsilon zeta eta theta",
    "alpha beta gamma delta epsilon zeta eta theta\t",
    "",
    "",
    "\n\tiota kappa lambda mu nu xi omicron pi rho\n",
    "iota kappa lambda mu nu xi omicron pi sigma",
    "one",
    "  spaced  words  here and there  and here  ",
    "\nalpha beta gamma delta",
    "\nalpha beta zulu yankee xray",
    "\nx y z x y z",
    "\nsame three words",
    "same three words",
    "\t", "\n", "  \n ", " \t ", "\r\n", "\t\n",
]


# Per-document text ops over a markup payload built around the text, on
# the same edges: whitespace-only text has its own formatting rules
# (self-closing, dropped or raw-kept space runs).
TEXT_OPS = ["beautify_xml", "beautify_html", "xml2json_doc", "main_content"]


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("edge_docs")
    n = len(EDGE_TEXTS)
    table = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": EDGE_TEXTS,
            "lang": ["en"] * n,
            "source": [f"src{i % 3}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in EDGE_TEXTS], pa.int64()),
        }
    )
    pq.write_table(table, d / "documents.parquet")
    return str(d)


@pytest.mark.parametrize("name", TOKEN_OPS + TEXT_OPS)
def test_token_ops_match_oracles_on_whitespace_edges(spark, edge_dir, name):
    from xqspark.queries import ORACLES, QUERIES

    qdf = QUERIES[name](spark, edge_dir)
    spark_cols = [c.lower() for c in qdf.columns]
    spark_rows = [tuple(r) for r in qdf.collect()]

    with duckdb.connect() as con:
        con.sql(
            f"CREATE VIEW documents AS FROM read_parquet('{edge_dir}/documents.parquet')"
        )
        rel = con.sql(ORACLES[name])
        ddb_cols = [c.lower() for c in rel.columns]
        ddb_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(ddb_cols), name
    assert _rows_to_set(spark_cols, spark_rows) == _rows_to_set(ddb_cols, ddb_rows), name
