"""Column-level HTML functions: the jsoup-style user API as Arrow-batched
pandas UDFs.

Each function compiles its CSS query once on the driver (broadcast with the
closure; QueryParser caches per executor) and evaluates vectorized over
Arrow batches — the Spark analogue of Element.select/text/attr
(/root/reference/ksoup/src/com/fleeksoft/ksoup/nodes/Element.kt:459-499,
Ksoup.kt:192-288 for metadata).

Each function is a per-document body handed to ``_doc_udf``, the pandas_udf
form of the engine's one per-document harness (the mapInArrow form is
operators.extract._map_docs), together with how a cell becomes a document:
treebuilder.parse, parse_xml, or the raw string. The harness owns the batch
loop and the null-is-empty rule.

These are the convenience path; the bulk pipeline uses
operators.extract (mapInArrow) which avoids pandas Series overhead.
"""

from __future__ import annotations

from functools import partial

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..kernel import dom
from ..kernel import selector as sel
from ..kernel import serialize
from ..kernel import textops as tx
from ..kernel.treebuilder import parse as _parse
from ..kernel.xml import parse_xml as _parse_xml
from ..operators.extract import SPANS_TYPE, spans_to_rows


def _doc_udf(return_type: DataType, per_doc, parse):
    """pandas_udf form: a document column -> a column of per_doc results.

    parse turns each cell into the document per_doc reads: treebuilder.parse
    (a functools.partial carries track_errors/track_positions), parse_xml,
    or None to pass the raw string. A null cell is the empty document "".
    A StructType result comes back as a pandas DataFrame of per_doc dicts."""
    struct = isinstance(return_type, StructType)

    @F.pandas_udf(return_type)
    def _f(s: pd.Series) -> pd.Series:
        docs = ("" if h is None else h for h in s)
        out = [per_doc(d) for d in (map(parse, docs) if parse else docs)]
        return pd.DataFrame(out) if struct else pd.Series(out)

    return _f


_STRINGS = ArrayType(StringType())
_INTS = ArrayType(IntegerType())


def _body(d) -> int:
    b = d.body()
    return b if b != -1 else 0


def html_text(col: Column | str) -> Column:
    """Element.text() of the document body."""
    return _doc_udf(StringType(), lambda d: tx.element_text(d, _body(d)),
                    _parse)(col)


def html_whole_text(col: Column | str) -> Column:
    return _doc_udf(StringType(), lambda d: tx.whole_text(d, _body(d)),
                    _parse)(col)


def html_title(col: Column | str) -> Column:
    """Document.title() via the early-exit StreamParser: tokenization stops
    at the first </title>, so metadata extraction over huge documents does
    not pay for parsing their bodies (StreamParser.kt:45 semantics)."""
    from ..kernel.stream_parser import stream_title

    return _doc_udf(StringType(), stream_title, None)(col)


def html_select_text(col: Column | str, css: str) -> Column:
    """texts of elements matching the CSS query, in document order."""
    sel.parse_query(css)  # validate on driver
    return _doc_udf(_STRINGS, lambda d: [
        tx.element_text(d, n) for n in sel.select(d, css)], _parse)(col)


def html_css_selector(col: Column | str, css: str) -> Column:
    """unique CSS paths (Element.cssSelector, nodes/Element.kt:836-858) of
    the elements matching the query, in document order."""
    sel.parse_query(css)  # validate on driver
    return _doc_udf(_STRINGS, lambda d: sel.css_selectors(d, sel.select(d, css)),
                    _parse)(col)


def html_select_attr(col: Column | str, css: str, attr: str,
                     absolute: bool = False) -> Column:
    """attr values of matching elements; absolute=True resolves via absUrl,
    keeping the raw value when it can't be made absolute (pipeline contract:
    don't lose relative refs on base-less documents — Node.absUrl itself
    returns "" there)."""
    sel.parse_query(css)

    def values(d):
        vals = []
        for n in sel.select(d, css):
            v = d.get_attr(n, attr)
            if absolute and v:
                v = d.abs_url(n, attr) or v
            if v is not None:
                vals.append(v)
        return vals

    return _doc_udf(_STRINGS, values, _parse)(col)


def html_select_count(col: Column | str, css: str) -> Column:
    sel.parse_query(css)
    return _doc_udf(IntegerType(), lambda d: len(sel.select(d, css)), _parse)(col)


_META_SCHEMA = StructType(
    [
        StructField("title", StringType()),
        StructField("meta_title", StringType()),
        StructField("description", StringType()),
        StructField("author", StringType()),
        StructField("og_title", StringType()),
        StructField("og_site_name", StringType()),
        StructField("og_type", StringType()),
        StructField("og_locale", StringType()),
        StructField("og_description", StringType()),
        StructField("og_image", StringType()),
        StructField("og_url", StringType()),
        StructField("twitter_card", StringType()),
        StructField("twitter_title", StringType()),
        StructField("twitter_description", StringType()),
        StructField("twitter_image", StringType()),
        StructField("canonical", StringType()),
        StructField("favicon", StringType()),
        StructField("shortcut_icon", StringType()),
        StructField("charset", StringType()),
    ]
)


def html_meta(col: Column | str, base_uri: str = "") -> Column:
    """Ksoup.parseMetaData equivalent (Ksoup.kt:192-288, model/MetaData.kt):
    og:/twitter:/meta extraction from <head> into a typed struct. ``title``
    is the <title> text (MetaData.htmlTitle); ``meta_title`` is
    meta[name=title]. favicon/shortcut_icon are base-prefixed exactly like
    the reference (Ksoup.kt:257-265: plain concat when the href doesn't
    start with http and base_uri is set); canonical is the raw href
    (Ksoup.kt:254). ``charset`` is an extension beyond the reference."""

    def _icon(d, query):
        n = sel.select_first(d, query)
        if n == -1:
            return None
        href = d.get_attr(n, "href")
        if href is not None and base_uri and not href.lower().startswith("http"):
            href = base_uri + href
        return href

    def row(d):
        def meta(attr_val, key="name", content="content"):
            n = sel.select_first(d, f'meta[{key}={attr_val}]')
            return d.get_attr(n, content) if n != -1 else None

        canonical = None
        n = sel.select_first(d, 'link[rel=canonical]')
        if n != -1:
            canonical = d.get_attr(n, "href")
        charset = None
        n = sel.select_first(d, "meta[charset]")
        if n != -1:
            charset = d.get_attr(n, "charset")
        return {
            "title": tx.doc_title(d) or None,
            "meta_title": meta("title"),
            "description": meta("description"),
            "author": meta("author"),
            "og_title": meta("og:title", key="property"),
            "og_site_name": meta("og:site_name", key="property"),
            "og_type": meta("og:type", key="property"),
            "og_locale": meta("og:locale", key="property"),
            "og_description": meta("og:description", key="property"),
            "og_image": meta("og:image", key="property"),
            "og_url": meta("og:url", key="property"),
            "twitter_card": meta("twitter:card"),
            "twitter_title": meta("twitter:title"),
            "twitter_description": meta("twitter:description"),
            "twitter_image": meta("twitter:image"),
            "canonical": canonical,
            "favicon": _icon(d, "link[rel~=icon]"),
            "shortcut_icon": _icon(d, "link[rel~=shortcut icon]"),
            "charset": charset,
        }

    return _doc_udf(_META_SCHEMA, row, _parse)(col)


def xml_select_text(col: Column | str, css: str) -> Column:
    """XML-mode parse + select (Parser.xmlParser path)."""
    sel.parse_query(css)
    return _doc_udf(_STRINGS, lambda d: [
        tx.element_text(d, n) for n in sel.select(d, css)], _parse_xml)(col)


def html_links(col: Column | str, absolute: bool = True) -> Column:
    """All anchor hrefs (absUrl-resolved by default)."""
    return html_select_attr(col, "a[href]", "href", absolute=absolute)


def html_media_refs(col: Column | str) -> Column:
    """All media references: img[src], video[src]/source[src], object[data]."""

    css = "img[src], video[src], video > source[src], object[data]"

    def refs(d):
        vals = []
        for n in sel.select(d, css):
            attr = "data" if d.tag[n] == "object" else "src"
            v = d.abs_url(n, attr) or d.get_attr(n, attr)
            if v:
                vals.append(v)
        return vals

    return _doc_udf(_STRINGS, refs, _parse)(col)


def html_clean(col: Column | str, preset: str = "basic") -> Column:
    """Sanitize a body fragment against a Safelist preset (Ksoup.clean)."""
    from ..kernel.safety import Safelist, clean_html

    assert preset in ("none", "simple_text", "basic", "basic_with_images",
                      "relaxed")
    safelist = getattr(Safelist, preset)()
    return _doc_udf(StringType(), lambda h: clean_html(h, safelist), None)(col)


def html_main_text(col: Column | str, base_uri: str = "") -> Column:
    """Boilerplate-stripped main-content text (north-rule DOM heuristics:
    strip chrome, pick the semantic/best-scored container, Element.text())."""
    from ..kernel.boilerplate import main_text

    return _doc_udf(StringType(), lambda h: main_text(h, base_uri), None)(col)


def html_main_spans(col: Column | str, base_uri: str = "") -> Column:
    """Boilerplate-stripped (kind, text, media_ref, offset) span sequence of
    the main container — media spans interleaved at their DOM positions."""
    from ..kernel.boilerplate import main_spans

    return _doc_udf(SPANS_TYPE, lambda h: spans_to_rows(main_spans(h, base_uri)),
                    None)(col)


def _rewrite_udf(fn):
    """html-in → html-out rewrite wrapper (serializes body inner HTML)."""

    def rewrite(d):
        fn(d)
        return serialize.inner_html(d, _body(d), pretty=False)

    return _doc_udf(StringType(), rewrite, _parse)


def html_remove(col: Column | str, css: str) -> Column:
    """Remove elements matching css; returns rewritten body HTML
    (Elements.remove, select/Elements.kt:415-421)."""
    sel.parse_query(css)  # validate on driver
    from ..kernel import mutate

    def op(d):
        mutate.bulk_remove(d, sel.select(d, css))

    return _rewrite_udf(op)(col)


def html_set_attr(col: Column | str, css: str, key: str, value: str) -> Column:
    """Set an attribute on all matching elements (Elements.attr(k, v))."""
    sel.parse_query(css)
    from ..kernel import mutate

    def op(d):
        mutate.bulk_attr(d, sel.select(d, css), key, value)

    return _rewrite_udf(op)(col)


def html_parse_errors(col: Column | str, max_errors: int = 100) -> Column:
    """Formatted parse errors per document ("<line:col>: message"), up to
    max_errors (Parser.setTrackErrors / ParseErrorList semantics,
    /root/reference/ksoup/src/com/fleeksoft/ksoup/parser/Parser.kt:92-107).
    The crawl-hygiene column: filter/inspect malformed documents at scale."""
    return _doc_udf(_STRINGS, lambda d: d.parse_errors,
                    partial(_parse, track_errors=max_errors))(col)


def html_src_ranges(col: Column | str, css: str) -> Column:
    """Full Range semantics for the FIRST element matching `css`:
    [start, end, close_start, close_end, line, col] — source offsets of the
    opening and closing constructs plus the 1-based line/column of the
    start (nodes/Range.kt, TreeBuilder.kt:295-333). Empty array when no
    match. Scalar-extractable with element_at for oracle checking."""
    sel.parse_query(css)

    def ranges(d):
        m = sel.select_first(d, css)
        if m is None or m < 0:
            return []
        r = dom.source_range(d, m) or (-1, -1)
        e = dom.end_source_range(d, m) or (-1, -1)
        ln, c = dom.line_col(d, r[0])
        return [r[0], r[1], e[0], e[1], ln, c]

    return _doc_udf(_INTS, ranges, partial(_parse, track_positions=True))(col)


def html_attr_src_range(col: Column | str, css: str, attr: str) -> Column:
    """AttributeRange for `attr` on the first element matching `css`:
    [name_start, name_end, val_start, val_end] (Range.AttributeRange);
    empty array when no match / untracked attribute."""
    sel.parse_query(css)

    def attr_range(d):
        m = sel.select_first(d, css)
        ar = None if m is None or m < 0 else dom.attr_source_range(d, m, attr)
        return list(ar) if ar else []

    return _doc_udf(_INTS, attr_range, partial(_parse, track_positions=True))(col)


def html_form_controls(col: Column | str) -> Column:
    """Per-form control association (nodes/FormElement.kt): for every form
    in the document, one entry "formIndex:tag:id" per associated control —
    submittable descendants unioned with parse-time linked controls (the
    foster-parented / early-close cases), in association order."""

    def controls(d):
        forms = [n for n, _ in d.preorder(0)
                 if d.kind[n] == dom.ELEMENT and d.tag[n] == "form"]
        return [f"{fi}:{d.tag[c]}:{d.get_attr(c, 'id') or ''}"
                for fi, form in enumerate(forms)
                for c in dom.form_elements(d, form)]

    return _doc_udf(_STRINGS, controls, _parse)(col)
