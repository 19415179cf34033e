"""The Python boundary: vectorized UDFs over the pure-Python core.

Vectorized UDFs throughout, never per-row Python UDFs. Two boundaries:

- ``doc_udf(fn, return_type)`` is the per-document column UDF:
  ``fn(payload)`` runs once per document inside each Arrow batch, e.g.
  ``doc_udf(beautify)`` or ``doc_udf(lambda p: xpath_query(p, q))``.
  The value factories build on it and compile their XPath/CSS query
  ONCE, at factory time, shipping it in the closure exactly like the
  reference compiles before iterating (internal/utils/utils.go:239-244).
  Per-document errors are contained (lenient parsing + try/except ->
  NULL), never task failures — the Spark analog of the reference's
  recover() on XPath panics (utils.go:211-215) at 10^12-document scale.
- ``map_arrow(df, inputs, fn, schema, keep)`` is the batch mapper over
  ``mapInArrow``: ``fn`` takes whole Arrow columns and returns whole
  output columns, for the numpy kernels in ``queries``; ``list_parts``
  decodes an Arrow list column for them. ``map_docs(df, payload, fn,
  schema, keep)`` is its per-row form (one row in, one row of several
  columns out) for the multimodal decoders. ``fn`` owns its NULL and
  error policy on both; ``utf8_arrays`` contains text with no UTF-8
  form per row for extract_pages, which maps its rows itself.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

from xqspark.core.api import xpath_values
from xqspark.core.dom import parse_dom
from xqspark.core.textutil import go_trim_space
from xqspark.core.xpath import compile_xpath, string_value


def _as_payload(v):
    if v is None:
        return None
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v)
    return str(v)


def _series_map(series: pd.Series, fn) -> list:
    """Apply fn per document inside the Arrow batch; None on error."""
    out = []
    for v in series:
        payload = _as_payload(v)
        if payload is None:
            out.append(None)
            continue
        try:
            out.append(fn(payload))
        except Exception:
            out.append(None)
    return out


def _arrow_or_none(values: list, arrow_type) -> list:
    """``values`` with each one that has no Arrow form of ``arrow_type``
    replaced by None. Text that keeps undecodable input bytes (lone
    surrogates from ``surrogateescape``) has no UTF-8 form, and one such
    value would fail the whole task at the Arrow boundary. A batch that
    converts is checked by one C call; only a batch that fails is tried
    row by row."""
    try:
        pa.array(values, type=arrow_type)
        return values
    except UnicodeEncodeError:
        pass
    out = []
    for v in values:
        try:
            pa.array([v], type=arrow_type)
            out.append(v)
        except UnicodeEncodeError:
            out.append(None)
    return out


def doc_udf(fn, return_type=T.StringType()):
    """Per-document UDF over one payload column: NULL in gives NULL out,
    and an exception in ``fn``, or a result with no UTF-8 form, gives
    NULL for that row."""
    arrow_type = to_arrow_type(return_type)

    @pandas_udf(return_type)
    def per_doc(payload: pd.Series) -> pd.Series:
        out = _series_map(payload, fn)
        return pd.Series(_arrow_or_none(out, arrow_type), dtype=object)

    return per_doc


def utf8_arrays(texts, errors):
    """Per-row ``texts`` and ``errors`` (str or None) as two Arrow string
    arrays. A text with no UTF-8 form (lone surrogates kept from
    undecodable input) becomes NULL and its row's error names the
    ``UnicodeEncodeError``; an error string with no UTF-8 form keeps its
    surrogates as backslash escapes. A batch that encodes cleanly is
    converted once, in C; only a batch that fails is walked row by row."""
    try:
        return pa.array(texts, pa.string()), pa.array(errors, pa.string())
    except UnicodeEncodeError:
        pass
    texts, errors = list(texts), list(errors)
    for i, t in enumerate(texts):
        try:
            if t is not None:
                t.encode("utf-8")
        except UnicodeEncodeError as exc:
            texts[i] = None
            errors[i] = f"{type(exc).__name__}: {exc}"[:500]
        if errors[i] is not None:
            errors[i] = errors[i].encode("utf-8", "backslashreplace").decode("utf-8")
    return pa.array(texts, pa.string()), pa.array(errors, pa.string())


def map_arrow(df, inputs, fn, schema, keep=()):
    """``df`` -> ``schema`` through ``mapInArrow``, one call of ``fn`` per
    Arrow batch.

    ``schema`` (a StructType or DDL string) is the whole output: its first
    ``len(keep)`` fields are the ``keep`` columns, passed through as the
    batch's Arrow arrays. ``fn(*[batch.column(c) for c in inputs])``
    returns one sequence per remaining field, each built as one Arrow
    array of the field's exact type (an Arrow array of that type is
    used as it is). With ``keep=()`` the output need not have one row
    per input row. Empty batches are skipped. ``fn`` owns the NULL and
    error policy: an exception it raises fails the task."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    computed = list(arrow_schema)[len(keep):]

    def run(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            outs = fn(*[batch.column(c) for c in inputs])
            cols = [batch.column(k) for k in keep]
            cols += [
                pa.array(o, type=f.type) for o, f in zip(outs, computed, strict=True)
            ]
            yield pa.RecordBatch.from_arrays(cols, schema=arrow_schema)

    return df.select(*dict.fromkeys([*keep, *inputs])).mapInArrow(run, schema)


def list_parts(arr):
    """An Arrow list array as ``(values, offsets)`` numpy arrays, the
    offsets rebased to 0: row ``i`` is ``values[offsets[i]:offsets[i+1]]``
    even when ``arr`` is a slice whose offsets start past 0."""
    offs = arr.offsets.to_numpy(zero_copy_only=False)
    return arr.flatten().to_numpy(zero_copy_only=False), offs - offs[0]


def map_docs(df, payload: str, fn, schema, keep=()):
    """``df`` -> ``schema``, one row out per row in: ``map_arrow`` with
    ``fn(value)`` run once per row on the ``payload`` column's value
    (``bytes``, ``str`` or ``None``). ``fn`` returns one tuple for the
    fields after the ``keep`` columns; a ``None`` fits any column."""

    def rows(col):
        return zip(*[fn(v) for v in col.to_pylist()])

    return map_arrow(df, [payload], rows, schema, keep)


def make_xpath_values_udf(query: str):
    """extract_xpath: ArrayType(StringType) — one trimmed string-value per
    matched node (utils.go:253-260); a scalar result (count()/boolean()/
    string()) becomes a 1-element list; both are the lines -x prints
    (``core.api.xpath_values``, utils.go:246-251)."""
    expr = compile_xpath(query)

    def one(payload):
        return xpath_values(expr.evaluate(parse_dom(payload, strict=False)))

    return doc_udf(one, T.ArrayType(T.StringType()))


def make_xpath_spans_udf(query: str):
    """extract(html, xpath) -> spans map (north rule: "text/spans maps"):
    per matched node, the trimmed string-value PLUS its (start, end)
    character offsets in the decoded document. Offsets are located by a
    forward scan (each match searched at-or-after the previous match's
    end), which is deterministic and correct whenever node order follows
    document order — XPath node-sets do. A value the scan cannot locate
    (entity-decoded text differing from the source bytes) gets -1/-1
    rather than a guess."""
    from xqspark.core.charset import decode_payload

    expr = compile_xpath(query)
    out_type = T.ArrayType(
        T.StructType(
            [
                T.StructField("text", T.StringType()),
                T.StructField("start", T.IntegerType()),
                T.StructField("end", T.IntegerType()),
            ]
        )
    )

    def one(payload):
        text = decode_payload(payload) if isinstance(payload, bytes) else payload
        doc = parse_dom(payload, strict=False)
        val = expr.evaluate(doc)
        if not isinstance(val, list):
            return []
        out = []
        cursor = 0
        for node in val:
            sv = go_trim_space(string_value(node))
            idx = text.find(sv, cursor) if sv else -1
            if idx == -1:
                out.append((sv, -1, -1))
            else:
                out.append((sv, idx, idx + len(sv)))
                cursor = idx + len(sv)
        return out

    return doc_udf(one, out_type)


def make_css_values_udf(selector: str, attr: str = ""):
    """extract_css / extract_css_attr: ArrayType(StringType). The selector
    compiles ONCE at factory time and ships in the closure."""
    from xqspark.core.css import _attr_value, compile_css
    from xqspark.core.htmltree import parse_html

    sel = compile_css(selector)

    def one(payload):
        doc = parse_html(payload)
        out = []
        for item in sel.select(doc):
            if attr:
                out.append(go_trim_space(_attr_value(item, attr) or ""))
            else:
                out.append(go_trim_space(item.inner_text()))
        return out

    return doc_udf(one, T.ArrayType(T.StringType()))


def make_robots_udf(user_agent: str = "xqbot"):
    """RFC 9309 decisions: (robots_txt string, paths array) -> aligned
    array<boolean>. The robots text is parsed ONCE per row and applied
    to every path (crawl frontiers check many URLs per host). A NULL
    robots text allows everything (RFC 9309 §2.3.1.3); a NULL paths
    array or any per-row error gives NULL for that row."""
    from xqspark.core.robots import parse_robots

    def one(text, paths):
        rules = parse_robots(text or "")
        return [rules.is_allowed(user_agent, p) for p in paths]

    @pandas_udf(T.ArrayType(T.BooleanType()))
    def check(robots: pd.Series, paths: pd.Series) -> pd.Series:
        out = []
        for text, ps in zip(robots, paths):
            try:
                out.append(one(text, ps))
            except Exception:
                out.append(None)
        return pd.Series(out, index=robots.index, dtype="object")

    return check


def make_link_pairs_udf(selector: str = "a", attr: str = "href"):
    """Outlink extraction for web-graph construction: ONE parse per page
    yields (attr value, anchor inner-text) pairs for every element the
    selector matches, in document order. Selector compiles at factory
    time; output array<struct> keeps the pair aligned without a second
    parse (two separate css UDF calls would parse the page twice)."""
    from xqspark.core.css import _attr_value, compile_css
    from xqspark.core.htmltree import parse_html

    sel = compile_css(selector)
    out_type = T.ArrayType(
        T.StructType(
            [
                T.StructField("href", T.StringType()),
                T.StructField("anchor", T.StringType()),
            ]
        )
    )

    def one(payload):
        doc = parse_html(payload)
        return [
            (
                go_trim_space(_attr_value(item, attr) or ""),
                go_trim_space(item.inner_text()),
            )
            for item in sel.select(doc)
        ]

    return doc_udf(one, out_type)


def content_type_col(col):
    """Vectorized format sniffing as a Catalyst expression — the Spark
    analog of the 10-byte dispatch (cmd/root.go:247-270). Stays JVM-side.

    The window is the first 10 BYTES (like core detect_format and the Go
    reference), not 10 characters — a multibyte prefix must not widen it.
    All markers are ASCII, so byte-wise string ops on the sliced prefix
    match core's decode-with-replacement semantics. NULL stays NULL."""
    prefix = F.lower(F.substring(col.cast("binary"), 1, 10).cast("string"))
    return (
        F.when(col.isNull(), F.lit(None).cast("string"))
        .when(F.length(prefix) == 0, F.lit("text"))
        # Go regexp \s is ASCII-only (no \v, unlike Java \s)
        .when(prefix.rlike(r"^[ \t\n\f\r]*[\{\[]"), F.lit("json"))
        .when(
            prefix.contains("html") | prefix.contains("<!d") | prefix.contains("<body"),
            F.lit("html"),
        )
        .otherwise(F.lit("xml"))
    )


def declared_charset_col(col):
    """Vectorized xml-decl charset sniff (utils.go:708-717 analog)."""
    # anchored to the XML declaration only (Go inspects just the decl,
    # utils.go:708-717) — a bare encoding= elsewhere must not match.
    # Like charset.declared_encoding (_RE_DECL), tolerate an optional UTF-8
    # BOM and leading whitespace before the declaration.
    # the whitespace AFTER '<?xml' is required (charset._RE_DECL): a
    # '<?xml-stylesheet ... encoding=..?>' PI is NOT a declaration
    return F.regexp_extract(
        F.substring(col.cast("string"), 1, 200),
        "^\\ufeff?[ \\t\\r\\n]*<\\?xml[ \\t\\r\\n][^>]*encoding=[\"']([^\"']+)[\"']",
        1,
    )
