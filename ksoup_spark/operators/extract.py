"""Core extraction operators: interleaved docs -> ordered span sequences,
and HTML -> exploded node table.

Physical plan (SURVEY.md §4): read -> salted repartition on hash(doc_id)
(defuses giant-document skew by scattering rows uniformly; one doc is one
row, so skew is row-size skew, not key skew) -> mapInArrow(extract kernel)
-> columnar spans. No per-row Python at the Spark boundary: the kernel
receives Arrow record batches and returns Arrow record batches; the
per-document parse loop runs inside the batch (the same document-at-a-time
model as the reference, Parser.kt:13-14 — parallelism lives BETWEEN
documents).

Every per-document loop of the engine runs in one harness, which wraps the
batch boundary around a per-document function. It has two forms:

- ``_map_docs`` here (mapInArrow form; the span operators and
  select_elements_df): each input column of a record batch is decoded once
  with ``to_pylist``, the per-document function runs per row, and its
  results are encoded once with ``pa.array``; doc_id passes through as
  Arrow.
- ``functions.html._doc_udf`` (pandas_udf form; the column API and the
  streaming span column): each cell is parsed (treebuilder.parse,
  parse_xml, or kept as the raw string) and handed to the per-document
  function. It lives with the column API so that the span kernels'
  workers never load pandas.

node_table_df keeps its own columnar build (many rows per document).

At 100 TB scale: extraction is embarrassingly parallel (no shuffle needed
beyond the optional salting pass), the parse kernel is CPU-bound per core,
and Arrow batch size is bounded by spark.sql.execution.arrow.maxRecordsPerBatch
so a multi-MB document cannot balloon executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from ..kernel import dom
from ..kernel import textops as tx
from ..kernel.charset import decode_html_bytes
from ..kernel.textops import extract_spans as _kernel_extract_spans
from ..kernel.treebuilder import parse as _parse

SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)
SPANS_TYPE = ArrayType(SPAN_STRUCT)

SPANS_SCHEMA = StructType(
    [StructField("doc_id", StringType()), StructField("spans", SPANS_TYPE)]
)

NODE_TABLE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("node_id", IntegerType()),
        StructField("parent_id", IntegerType()),
        StructField("depth", IntegerType()),
        StructField("kind", IntegerType()),
        StructField("tag", StringType()),
        StructField("ns", IntegerType()),
        StructField("sibling_index", IntegerType()),
        StructField("elem_sibling_index", IntegerType()),
        StructField("first_child", IntegerType()),
        StructField("next_sibling", IntegerType()),
        StructField("subtree_end", IntegerType()),
        StructField("text", StringType()),
        StructField("attrs", MapType(StringType(), StringType())),
    ]
)

NODE_TABLE_TEXT_SCHEMA = StructType(
    NODE_TABLE_SCHEMA.fields + [StructField("elem_text", StringType())]
)

_MEDIA_TAG = {"image": "img", "video": "video", "object": "object"}


# -- the per-document harness ------------------------------------------------

def _map_docs(docs: DataFrame, per_doc, schema: StructType) -> DataFrame:
    """mapInArrow form: (doc_id, *inputs) -> (doc_id, schema[1]).

    per_doc(*inputs) runs once per document on the decoded Python values
    (None for a null cell, which it treats as an empty document); the
    output column's Arrow type is built once, from the Spark schema."""
    arrow_type = to_arrow_type(schema[1].dataType)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols = [c.to_pylist() for c in batch.columns[1:]]
            out = [per_doc(*doc) for doc in zip(*cols)]
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(out, type=arrow_type)],
                names=schema.names,
            )

    return docs.mapInArrow(kernel, schema)


def _docs_in(docs: DataFrame, id_col: str, **cols: str) -> DataFrame:
    """(doc_id as string, *renamed input columns) for a harness kernel."""
    return docs.select(F.col(id_col).cast("string").alias("doc_id"),
                       *(F.col(c).alias(name) for name, c in cols.items()))


# -- span extraction ---------------------------------------------------------

def assemble_html(spans: list) -> str:
    """Interleaved input spans -> one HTML payload.

    Text-kind spans ('html'/'text') concatenate in offset order; media spans
    become media elements at their stream position (the "interleaved
    placeholders resolved against DOM positions" contract).
    """
    parts: list[str] = []
    for s in sorted(spans, key=lambda x: x["offset"] if x["offset"] is not None else 0):
        kind = s["kind"]
        if kind in ("html", "text"):
            parts.append(s["text"] or "")
        else:
            tag = _MEDIA_TAG.get(kind)
            if tag is None:
                continue
            ref = s["media_ref"] or ""
            if tag == "object":
                parts.append(f'<object data="{ref}"></object>')
            elif tag == "video":
                parts.append(f'<video src="{ref}"></video>')
            else:
                parts.append(f'<img src="{ref}">')
    return "".join(parts)


def spans_to_rows(spans: list[tuple]) -> list[dict]:
    return [
        {"kind": k, "text": t, "media_ref": m, "offset": o}
        for k, t, m, o in spans
    ]


def extract_spans_from_html(html: str, base_uri: str = "") -> list[dict]:
    return spans_to_rows(_kernel_extract_spans(_parse(html, base_uri)))


def _spans_of_input(spans: list | None) -> list[dict]:
    return extract_spans_from_html(assemble_html(spans or []))


def _spans_of_html(html: str | None) -> list[dict]:
    return extract_spans_from_html(html or "")


def _spans_of_bytes(content: bytes | None, charset: str | None = None) -> list[dict]:
    return extract_spans_from_html(
        decode_html_bytes(content, charset) if content is not None else "")


def salted_repartition(df: DataFrame, num_partitions: int | None = None,
                       id_col: str = "doc_id") -> DataFrame:
    """Scatter rows uniformly by hash(doc_id) so giant documents spread
    across partitions instead of clumping (north-rule skew defusal)."""
    if num_partitions:
        return df.repartition(num_partitions, F.xxhash64(F.col(id_col)))
    return df.repartition(F.xxhash64(F.col(id_col)))


def extract_spans_df(docs: DataFrame, repartition: int | None = None) -> DataFrame:
    """(doc_id, spans<input>) -> (doc_id, spans<output>) via Arrow kernel."""
    docs = docs.select("doc_id", "spans")
    if repartition:
        docs = salted_repartition(docs, repartition)
    return _map_docs(docs, _spans_of_input, SPANS_SCHEMA)


def extract_spans_from_html_df(docs: DataFrame, html_col: str = "html",
                               id_col: str = "doc_id",
                               repartition: int | None = None) -> DataFrame:
    """(doc_id, html) -> (doc_id, spans)."""
    docs = _docs_in(docs, id_col, html=html_col)
    if repartition:
        docs = salted_repartition(docs, repartition)
    return _map_docs(docs, _spans_of_html, SPANS_SCHEMA)


_TEXT_COLUMN_NAMES = {"text": "elem_text", "own": "elem_own_text",
                      "whole": "elem_whole_text",
                      "whole_own": "elem_whole_own_text",
                      "data": "elem_data"}


def node_table_df(docs: DataFrame, html_col: str = "html",
                  id_col: str = "doc_id",
                  include_elem_text: bool = False,
                  text_columns: tuple = (),
                  match_text: bool = False) -> DataFrame:
    """(doc_id, html) -> exploded node table (SURVEY.md §1.2): one row per
    DOM node with preorder ids, int parent/child/sibling indices, and a
    subtree interval enabling descendant joins
    (ancestor iff anc.node_id < d.node_id <= anc.subtree_end).

    include_elem_text adds a normalized per-element ``elem_text`` column so
    nodequery can compile :contains/:matches as JVM string predicates.
    text_columns generalizes it to the other per-element text views the
    text pseudos read: any of "text", "own" (elem_own_text), "whole"
    (elem_whole_text), "whole_own" (elem_whole_own_text), "data"
    (elem_data). Opt-in: each text fragment is stored once per ancestor
    element, so at corpus scale request only what the query set needs.

    match_text builds the table from the :matchText-rewritten tree
    (selector.prepare_match_text — every text-node child wrapped in a
    PseudoTextElement carrying the parent's tag+attrs, Evaluator.kt:816-829)
    and adds a 0/1 ``pseudo`` column, so nodequery compiles :matchText as a
    plain column predicate. Opt-in because the rewrite changes tree shape
    for EVERY selector evaluated over the table — exactly the reference's
    own semantics, where a :matchText query mutates the document.

    The columns are built per batch straight from each document's
    to_table() columns rather than through the per-document harness."""
    from ..kernel.selector import prepare_match_text

    docs = _docs_in(docs, id_col, html=html_col)
    tcols = tuple(dict.fromkeys(
        (("text",) if include_elem_text else ()) + tuple(text_columns)))
    text_names = tuple(_TEXT_COLUMN_NAMES[k] for k in tcols)
    extra_fields = [StructField(n, StringType()) for n in text_names]
    if match_text:
        extra_fields.append(StructField("pseudo", IntegerType()))
    schema = StructType(NODE_TABLE_SCHEMA.fields + extra_fields)
    arrow_types = [to_arrow_type(f.dataType) for f in schema.fields]
    copy_keys = schema.names[1:]

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column(0).to_pylist()
            htmls = batch.column(1).to_pylist()
            cols: dict[str, list] = {name: [] for name in schema.names}
            for did, h in zip(ids, htmls):
                doc = _parse(h or "")
                if match_text:
                    prepare_match_text(doc)
                t = doc.to_table(text_columns=tcols,
                                 include_pseudo=match_text)
                cols["doc_id"].extend([did] * len(t["node_id"]))
                for key in copy_keys:
                    cols[key].extend(t[key])
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[n], type=at)
                 for n, at in zip(schema.names, arrow_types)],
                names=schema.names)

    return docs.mapInArrow(kernel, schema)


# node-kind codes re-exported for DataFrame-side filters
KIND_DOCUMENT = dom.DOCUMENT
KIND_ELEMENT = dom.ELEMENT
KIND_TEXT = dom.TEXT
KIND_DATA = dom.DATA
KIND_COMMENT = dom.COMMENT
KIND_CDATA = dom.CDATA


def extract_spans_from_bytes_df(docs: DataFrame, bytes_col: str = "content",
                                id_col: str = "doc_id",
                                charset_col: str | None = None) -> DataFrame:
    """(doc_id, content:binary[, charset hint]) -> (doc_id, spans).

    Runs the full charset pipeline per document before parsing: gzip magic,
    BOM sniff (overrides everything), declared-charset detection from the
    first 5KB (meta/xml-decl trial scan), hint fallback, then UTF-8 —
    DataUtil.load semantics (helper/DataUtil.kt:38-259). Pairs with
    spark.read.format("binaryFile") for raw crawl archives.
    """
    cols = {"content": bytes_col}
    if charset_col:
        cols["charset"] = charset_col
    return _map_docs(_docs_in(docs, id_col, **cols), _spans_of_bytes, SPANS_SCHEMA)


SELECTED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("match_index", IntegerType()),
        StructField("tag", StringType()),
        StructField("text", StringType()),
        StructField("own_text", StringType()),
        StructField("attrs", MapType(StringType(), StringType())),
    ]
)


def select_elements_df(docs: DataFrame, css: str, html_col: str = "html",
                       id_col: str = "doc_id") -> DataFrame:
    """Corpus-wide Element.select: one output row per matched element in
    document order, carrying tag/text()/ownText()/attrs.

    The CSS query compiles once on the driver (validated eagerly) and again
    per executor from the broadcast closure's string (QueryParser caches).
    The harness emits each document's matches as one array, which the JVM
    explodes into rows.
    """
    from ..kernel import selector as sel

    sel.parse_query(css)  # validate on driver

    def matches(html: str | None) -> list[tuple]:
        d = _parse(html or "")
        return [(mi, d.tag[n], tx.element_text(d, n), tx.own_text(d, n), d.attrs[n])
                for mi, n in enumerate(sel.select(d, css))]

    schema = StructType([SELECTED_SCHEMA[0], StructField(
        "matches", ArrayType(StructType(SELECTED_SCHEMA.fields[1:])))])
    out = _map_docs(_docs_in(docs, id_col, html=html_col), matches, schema)
    return out.select("doc_id", F.inline("matches"))
