"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -> flagship interleaved-corpus span extraction at sf0.001.
queries()      -> operator showcase, each runnable at (spark, sf_dir).
oracle_sql()   -> DuckDB twins. For the HTML-engine queries the documents
                  table is wrapped in HTML whose expected parse output is
                  computable in pure SQL — so the tokenizer/tree/selector/
                  text kernels are value-hash-checked against an independent
                  engine, not just row-counted.

Every queries() entry has an oracle_sql() twin — including the LSH paths
(md5-derived hyperplanes / md5 minhash family are deterministic, so the
banding and bucketing are reproduced exactly in SQL).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ksoup_spark.functions import html as H
from ksoup_spark.operators import (dedup, extract, sampling, similarity,
                                   textstats)
from ksoup_spark.sources.corpus import build_docs_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: interleaved docs -> ordered span sequences (exploded)."""
    corpus = build_docs_table(spark, "/root/testdata/sf0.001")
    spans = extract.extract_spans_df(corpus.select("doc_id", "spans"))
    return spans.select(
        "doc_id", F.posexplode("spans").alias("pos", "span")
    ).select(
        "doc_id",
        "pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
    )


# ---------------------------------------------------------------------------
# HTML-engine queries (oracle-checkable by construction)
# ---------------------------------------------------------------------------

def q_html_text_roundtrip(spark, sf_dir):
    """Body text() roundtrip plus Document.title() (nodes/Document.kt) —
    the former standalone ``html_title`` row folded in (VERDICT r4 #1) so
    the registry fits the driver's checked window; html_text() is
    body-scoped, so the dynamic title never leaks into text_out."""
    d = _docs(spark, sf_dir)
    html = F.concat(
        F.lit("<html><head><title>  Doc "),
        F.col("doc_id").cast("string"),
        F.lit(" : "),
        F.substring(F.col("text"), 1, 20),
        F.lit("  </title></head><body><article><p>"),
        F.col("text"),
        F.lit("</p></article></body></html>"),
    )
    return d.select(
        "doc_id",
        H.html_text(html).alias("text_out"),
        H.html_title(html).alias("title"),
    )


def q_html_entity_roundtrip(spark, sf_dir):
    d = _docs(spark, sf_dir)
    enc = F.regexp_replace(
        F.regexp_replace(F.col("text"), "e", "&#101;"), " ", "&nbsp;"
    )
    html = F.concat(F.lit("<p>"), enc, F.lit("</p>"))
    return d.select("doc_id", H.html_text(html).alias("text_out"))


def q_html_media_spans(spark, sf_dir):
    d = _docs(spark, sf_dir)
    html = F.concat(
        F.lit("<p>"),
        F.col("text"),
        F.lit('</p><img src="http://m.example/'),
        F.col("doc_id").cast("string"),
        F.lit('.png"><p>tail</p>'),
    )
    spans = extract.extract_spans_from_html_df(
        d.select(F.col("doc_id"), html.alias("html"))
    )
    return spans.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size("spans").alias("n_spans"),
        F.col("spans")[0]["text"].alias("body_text"),
        F.col("spans")[1]["media_ref"].alias("media_ref"),
        F.col("spans")[2]["text"].alias("tail_text"),
    )


def _span_class_html():
    words = F.split(F.col("text"), " ")
    return F.concat(
        F.lit("<div>"),
        F.array_join(
            F.transform(
                words,
                lambda w, i: F.concat(
                    F.lit('<span class="w'),
                    (i % 3).cast("string"),
                    F.lit('">'),
                    w,
                    F.lit("</span>"),
                ),
            ),
            "",
        ),
        F.lit("</div>"),
    )


def q_selector_class(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.array_join(
            H.html_select_text(_span_class_html(), "span.w1"), " "
        ).alias("matched"),
    )


def q_selector_nth(spark, sf_dir):
    """nth-child text select plus the counting surface (html_select_count
    over :nth-child(even), a class compound, and the adjacent-sibling
    combinator) — the former standalone ``selector_count`` row, folded in
    so the full registry fits the driver's checked window (VERDICT r4 #1)."""
    d = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    html = F.concat(
        F.lit("<ul>"),
        F.array_join(
            F.transform(words, lambda w: F.concat(F.lit("<li>"), w)), ""
        ),
        F.lit("</ul>"),
    )
    chtml = _span_class_html()
    return d.select(
        "doc_id",
        F.array_join(
            H.html_select_text(html, "li:nth-child(3n+1)"), " "
        ).alias("matched"),
        H.html_select_count(chtml, "span:nth-child(even)").alias("n_even"),
        H.html_select_count(chtml, "span.w0").alias("n_w0"),
        H.html_select_count(chtml, "span:first-child + span").alias("n_second"),
    )


def q_css_paths(spark, sf_dir):
    """Element.cssSelector over the corpus: one <p> per word (the first
    carries a unique id, exercising the #id branch; the rest get
    :nth-child disambiguators — nodes/Element.kt:836-880)."""
    d = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    html = F.concat(
        F.lit("<div>"),
        F.array_join(
            F.transform(
                words,
                lambda w, i: F.concat(
                    F.when(i == 0, F.lit('<p id="h0">')).otherwise(F.lit("<p>")),
                    w,
                    F.lit("</p>"),
                ),
            ),
            "",
        ),
        F.lit("</div>"),
    )
    return d.select(
        "doc_id",
        F.array_join(H.html_css_selector(html, "p"), "|").alias("css_paths"),
    )



def q_attr_absurl(spark, sf_dir):
    d = _docs(spark, sf_dir)
    sid = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<base href="http://base.example/dir/"><a href="p/'),
        sid,
        F.lit('.html">x</a><img src="../i/'),
        sid,
        F.lit('.png">'),
    )
    return d.select(
        "doc_id",
        F.element_at(H.html_select_attr(html, "a", "href", absolute=True), 1)
        .alias("a_href"),
        F.element_at(H.html_select_attr(html, "img", "src", absolute=True), 1)
        .alias("img_src"),
    )


def q_wholetext_pre(spark, sf_dir):
    d = _docs(spark, sf_dir)
    html = F.concat(
        F.lit("<pre>"), F.regexp_replace(F.col("text"), " ", "\n"), F.lit("</pre>")
    )
    return d.select("doc_id", H.html_whole_text(html).alias("whole"))



def q_node_table(spark, sf_dir):
    d = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    html = F.concat(
        F.lit("<div>"),
        F.array_join(
            F.transform(words, lambda w: F.concat(F.lit("<p>"), w, F.lit("</p>"))),
            "",
        ),
        F.lit("</div>"),
    )
    nodes = extract.node_table_df(d.select("doc_id", html.alias("html")))
    return (
        nodes.groupBy(F.col("doc_id").cast("long").alias("doc_id"))
        .agg(
            F.sum((F.col("kind") == extract.KIND_ELEMENT).cast("int"))
            .alias("n_elements"),
            F.sum((F.col("kind") == extract.KIND_TEXT).cast("int"))
            .alias("n_text_nodes"),
            F.max("depth").alias("max_depth"),
        )
    )


def q_xml_mode(spark, sf_dir):
    d = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    xml = F.concat(
        F.lit("<root>"),
        F.array_join(
            F.transform(
                words,
                lambda w, i: F.concat(
                    F.lit('<item idx="'), i.cast("string"), F.lit('">'),
                    w, F.lit("</item>"),
                ),
            ),
            "",
        ),
        F.lit("</root>"),
    )
    return d.select(
        "doc_id",
        F.element_at(H.xml_select_text(xml, "item[idx=2]"), 1).alias("third_word"),
    )


def q_bytes_charset(spark, sf_dir):
    """Binary input with declared non-UTF8 charset: decode pipeline check."""
    d = _docs(spark, sf_dir)
    payload = F.encode(
        F.concat(
            F.lit('<meta charset="iso-8859-1"><p>'),
            F.regexp_replace(F.col("text"), "e", "é"),
            F.lit("</p>"),
        ),
        "ISO-8859-1",
    )
    spans = extract.extract_spans_from_bytes_df(
        d.select("doc_id", payload.alias("content")),
        bytes_col="content",
    )
    return spans.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("spans")[0]["text"].alias("text_out"),
    )


def q_select_elements(spark, sf_dir):
    """Corpus-wide Element.select as an exploded DataFrame."""
    d = _docs(spark, sf_dir)
    matched = extract.select_elements_df(
        d.select("doc_id", _span_class_html().alias("html")), "span.w2"
    )
    return matched.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "match_index",
        F.col("own_text"),
    )


def q_html_clean(spark, sf_dir):
    """Sanitizer roundtrip: unsafe attrs/tags stripped, text preserved."""
    d = _docs(spark, sf_dir)
    html = F.concat(
        F.lit('<p onclick="evil()" class=x>'),
        F.col("text"),
        F.lit('</p><script>bad()</script><blockquote cite="http://c.x/">q</blockquote>'),
    )
    return d.select("doc_id", H.html_clean(html, "basic").alias("cleaned"))


def q_main_content(spark, sf_dir):
    """North-rule main-content extraction: boilerplate chrome (header/nav/
    sidebar/ads/comments/footer + script) stripped by DOM heuristics; the
    surviving article text must equal the seed text exactly."""
    d = _docs(spark, sf_dir)
    html = F.concat(
        F.lit('<html><head><script>track()</script></head><body>'
              '<header class="masthead"><h1>Site</h1>'
              '<nav><a href="/">Home</a><a href="/b">Blog</a></nav></header>'
              '<div class="sidebar"><a href="/x">x</a> promo</div>'
              '<article><p>'),
        F.col("text"),
        F.lit('</p></article>'
              '<div class="comments"><p>junk</p></div>'
              '<footer>(c) site</footer></body></html>'),
    )
    return d.select("doc_id", H.html_main_text(html).alias("main_text"))


def q_html_rewrite(spark, sf_dir):
    """Mutation surface: Elements.remove + attr(k,v) as corpus rewrites."""
    d = _docs(spark, sf_dir)
    html = F.concat(
        F.lit('<p id="k">'),
        F.col("text"),
        F.lit('</p><nav><a href="/">x</a></nav>'),
    )
    removed = H.html_remove(html, "nav")
    return d.select(
        "doc_id",
        H.html_set_attr(removed, "p", "data-m", "1").alias("rewritten"),
    )


def q_match_text(spark, sf_dir):
    """:matchText selector: text nodes selectable as pseudo elements; the
    two text runs around <br> surface as separate matches."""
    d = _docs(spark, sf_dir)
    html = F.concat(
        F.lit("<p>"), F.col("text"), F.lit("<br>tail-run</p>"),
    )
    return d.select(
        "doc_id",
        F.array_join(
            H.html_select_text(html, "p:matchText"), " | "
        ).alias("runs"),
    )


def q_pdf_layout(spark, sf_dir):
    """PDF/layout-parse stage backed by the real minimal text-PDF parser
    (ksoup_spark/kernel/pdf.py): the corpus text is typeset into a two-page
    PDF (catalog -> pages -> page -> content stream, uncompressed) via SQL
    concat, and the parser recovers pages, text blocks with bbox geometry,
    and a cm/Do-placed image. Exact DuckDB oracle: the block geometry
    formula (0.6 * fontsize * chars) is mirrored in SQL."""
    from ksoup_spark.operators import multimodal

    d = _docs(spark, sf_dir)
    sid = F.col("doc_id").cast("string")
    c1 = F.concat(
        F.lit("BT /F1 12 Tf 72 720 Td (Doc "), sid, F.lit(") Tj ET\n"),
        F.lit("BT /F1 10 Tf 72 700 Td ("), F.col("text"), F.lit(") Tj ET\n"),
        F.lit("q 100 0 0 50 30 40 cm /Im0 Do Q\n"),
    )
    c2 = F.concat(F.lit("BT /F1 12 Tf 72 720 Td (p2 of "), sid,
                  F.lit(") Tj ET\n"))
    pdf = F.concat(
        F.lit("%PDF-1.4\n"
              "1 0 obj <</Type /Catalog /Pages 2 0 R>> endobj\n"
              "2 0 obj <</Type /Pages /Kids [3 0 R 5 0 R] /Count 2>> endobj\n"
              "3 0 obj <</Type /Page /Parent 2 0 R /Contents 4 0 R>> endobj\n"
              "4 0 obj <</Length "),
        F.length(c1).cast("string"), F.lit(">>\nstream\n"), c1,
        F.lit("endstream endobj\n"
              "5 0 obj <</Type /Page /Parent 2 0 R /Contents 6 0 R>> endobj\n"
              "6 0 obj <</Length "),
        F.length(c2).cast("string"), F.lit(">>\nstream\n"), c2,
        F.lit("endstream endobj\n%%EOF\n"),
    )
    pdfs = d.select(sid.alias("media_id"),
                    F.encode(pdf, "utf-8").alias("payload"))
    return multimodal.pdf_layout(pdfs, strict=True)


def q_parse_errors(spark, sf_dir):
    """Parse-error tracking (Parser.setTrackErrors semantics): every space
    becomes an unterminated `&amp ` entity (one charref error each) and the
    end tag carries attributes (one more). Count and the formatted last
    error (with its <line:col> position) are value-hash-checked in SQL."""
    d = _docs(spark, sf_dir)
    html = F.concat(
        F.lit("<p>"),
        F.regexp_replace(F.col("text"), " ", "&amp "),
        F.lit("</p id='x'>"),
    )
    errs = H.html_parse_errors(html, 1000)
    return d.select(
        "doc_id",
        F.size(errs).alias("n_errors"),
        F.element_at(errs, -1).alias("last_error"),
    )


def _id3_payload():
    # ASCII audio magic so the byte stream is valid UTF-8 — DuckDB's
    # sha256/md5 take VARCHAR, so the oracle hashes the identical bytes
    return F.encode(F.concat(F.lit("ID3"), F.col("text")), "utf-8")


def q_media_meta(spark, sf_dir):
    """Multimodal metadata plumbing, oracle-checked end-to-end: the stub
    decoder derives duration from sha256(payload) bytes, which DuckDB
    reproduces exactly (sha256 + hex-byte arithmetic in SQL)."""
    from ksoup_spark.operators import multimodal

    d = _docs(spark, sf_dir)
    media = d.select(F.col("doc_id").cast("string").alias("media_id"),
                     _id3_payload().alias("payload"))
    return multimodal.media_metadata(media)


def q_media_frames(spark, sf_dir):
    """Frame-sampling plumbing (byte-window stub): exploded rows, each
    frame fingerprinted (md5) so the SQL twin can slice the same windows."""
    from ksoup_spark.operators import multimodal

    d = _docs(spark, sf_dir)
    media = d.select(F.col("doc_id").cast("string").alias("media_id"),
                     _id3_payload().alias("payload"))
    frames = multimodal.sample_frames(media, every_n_bytes=128, max_frames=3)
    return frames.select("media_id", "frame_index",
                         F.md5("frame").alias("frame_md5"))



def q_form_controls(spark, sf_dir):
    """FormElement control association (nodes/FormElement.kt): the form is
    closed early by table parse rules so its inputs are foster-parented
    OUTSIDE it (linked, not children); the second <form> start tag is
    ignored (form pointer already set), so the select and the linked
    button also associate to the first form. Association order and the
    disjoint-form case are computable exactly in SQL."""
    d = _docs(spark, sf_dir)
    sid = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<table><tr><form><input type=hidden id=h"), sid,
        F.lit("><td><input id=t"), sid,
        F.lit("></td></table><form><select id=s"), sid,
        F.lit("></select><button id=b"), sid, F.lit(">x</button></form>"),
    )
    controls = H.html_form_controls(html)
    return d.select(
        "doc_id",
        F.size(controls).alias("n_controls"),
        F.array_join(controls, " ").alias("controls"),
    )


def q_src_ranges(spark, sf_dir):
    """Full Range semantics (nodes/Range.kt): start+end offsets of opening
    AND closing constructs, line/col, and attribute name/value spans —
    explicit close (</p>), implicit close (unclosed <i> at EOF), and an
    attribute range, all offset by the document text so the oracle computes
    them exactly in SQL."""
    d = _docs(spark, sf_dir)
    html = F.concat(F.col("text"), F.lit("\n<p id=zz>x</p>\n<i>y"))
    pr = H.html_src_ranges(html, "p")
    ir = H.html_src_ranges(html, "i")
    ar = H.html_attr_src_range(html, "p", "id")
    return d.select(
        "doc_id",
        F.element_at(pr, 1).alias("p_start"),
        F.element_at(pr, 2).alias("p_end"),
        F.element_at(pr, 3).alias("p_close_start"),
        F.element_at(pr, 4).alias("p_close_end"),
        F.element_at(pr, 5).alias("p_line"),
        F.element_at(pr, 6).alias("p_col"),
        F.element_at(ir, 3).alias("i_close_start"),
        F.element_at(ir, 4).alias("i_close_end"),
        F.element_at(ar, 1).alias("id_name_start"),
        F.element_at(ar, 4).alias("id_val_end"),
    )


def q_nodequery_compiled(spark, sf_dir):
    """CSS compiled to Catalyst plan over the node table (no Python in the
    query itself — only the parse kernel that builds the table).  Round 5:
    the selector also exercises the counted positional family —
    :nth-last-child rides a per-(doc, parent) element-count window
    (operators/nodequery.py _augment), so the per-doc count is the words
    with index%3==1 whose position-from-end is ≡1 (mod 3), predictable in
    pure SQL over the word list."""
    from ksoup_spark.operators import nodequery

    d = _docs(spark, sf_dir)
    nodes = extract.node_table_df(d.select("doc_id", _span_class_html().alias("html")))
    matched = nodequery.compile_selector(
        nodes, "div > span.w1:nth-last-child(3n+1)")
    return matched.groupBy(F.col("doc_id").cast("long").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("int").alias("n_matched")
    )


def q_nodequery_has(spark, sf_dir):
    """Structural :has compiled to Catalyst (round 5): every 3rd word sits
    in a nested <div class=b><div><p>w</p></div></div> block, the rest in
    <div class=b><span>w</span></div>. ``div.b:has(div p)`` — the inner's
    ancestor walk is bounded to the subject subtree-or-self — compiles to
    the three-way subtree-interval join (operators/nodequery.py), so the
    per-doc match count is exactly the number of words with index%3==1,
    predictable in pure SQL."""
    from ksoup_spark.operators import nodequery

    d = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    html = F.concat(
        F.lit("<main>"),
        F.array_join(
            F.transform(
                words,
                lambda w, i: F.when(
                    i % 3 == 1,
                    F.concat(F.lit('<div class="b"><div><p>'), w,
                             F.lit("</p></div></div>")),
                ).otherwise(
                    F.concat(F.lit('<div class="b"><span>'), w,
                             F.lit("</span></div>")),
                ),
            ),
            "",
        ),
        F.lit("</main>"),
    )
    # five selectors fan out over ONE node table: persist it so the parse
    # kernel runs once (the cluster-scale pattern is a persisted/checkpointed
    # node table shared by a selector batch); materialize EAGERLY — six join
    # stages hitting an unfilled cache interleave parse tasks with the join
    # codegen, measured ~20% slower cold than parse-then-fan-out
    nodes = extract.node_table_df(
        d.select("doc_id", html.alias("html"))).cache()
    nodes.count()

    def _cnt(css, name):
        m = nodequery.compile_selector(nodes, css)
        return m.groupBy(F.col("doc_id").cast("long").alias("doc_id")).agg(
            F.count(F.lit(1)).cast("int").alias(name))

    # round 5: the same subtree answered through the NESTED-:has recursion
    # (div:has(p) roots at the tested div — same match set as the spine
    # form) and through a sibling join whose left side is a compiled
    # spine-:has (subject block i is preceded by a p-block iff i%3==2)
    has_cnt = _cnt("div.b:has(div p)", "n_has")
    nested = _cnt("div.b:has(div:has(p))", "n_nested")
    sib = _cnt("div.b:has(div p) + div.b", "n_sibhas")
    # round 5 (late): the structural-Or :has union — '> p' never matches
    # (p is nested under an inner div), '> span' matches the span blocks —
    # and a 4-level root-anchored child run counting every block
    has_or = _cnt("div.b:has(> p, > span)", "n_or")
    rooted = _cnt("> html > body > main > div.b", "n_root")
    # round 5 (late): subject-bound :lt inside :has — the kernel binds
    # IndexLessThan to ctx.root = the subject, so :not(:lt(99)) is FALSE
    # at the strictly-below inner div (index 0 < 99) but TRUE at the
    # subject itself (el == root kills :lt); only the compiler's
    # at-subject branch produces these matches (a global-index compile
    # would count 0), and the count equals n_has
    lt_cnt = _cnt("div.b:has(div:not(:lt(99)) p)", "n_lt")
    counts = (
        has_cnt.join(nested, "doc_id", "left").join(sib, "doc_id", "left")
        .join(has_or, "doc_id", "left").join(rooted, "doc_id", "left")
        .join(lt_cnt, "doc_id", "left")
        .select(
            "doc_id", "n_has",
            F.coalesce(F.col("n_nested"), F.lit(0)).cast("int")
            .alias("n_nested"),
            F.coalesce(F.col("n_sibhas"), F.lit(0)).cast("int")
            .alias("n_sibhas"),
            F.coalesce(F.col("n_or"), F.lit(0)).cast("int").alias("n_or"),
            F.coalesce(F.col("n_root"), F.lit(0)).cast("int")
            .alias("n_root"),
            F.coalesce(F.col("n_lt"), F.lit(0)).cast("int").alias("n_lt"),
        )
    )
    # the per-doc counts are small: collect them, then release the cached
    # node table so it does not hold executor storage for later queries
    rows = counts.collect()
    nodes.unpersist()
    return spark.createDataFrame(rows, counts.schema)


def q_nodequery_contains(spark, sf_dir):
    """Text pseudos compiled to JVM predicates over the opt-in text-view
    node-table columns — one <p> per word, count the p's whose text
    contains 'e' (case-insensitive).  Round 5: the selector conjoins the
    equivalent own-text regex (:matchesOwn((?i)e) over elem_own_text via
    rlike — a leaf <p>'s own text IS its text), so both the substring and
    regex view paths sit under the driver oracle with the same count."""
    from ksoup_spark.operators import nodequery

    d = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    html = F.concat(
        F.lit("<div>"),
        F.array_join(
            F.transform(words, lambda w: F.concat(F.lit("<p>"), w, F.lit("</p>"))),
            "",
        ),
        F.lit("</div>"),
    )
    nodes = extract.node_table_df(
        d.select("doc_id", html.alias("html")),
        text_columns=("text", "own"))
    matched = nodequery.compile_selector(
        nodes, "p:contains(e):matchesOwn((?i)e)")
    return matched.groupBy(F.col("doc_id").cast("long").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("int").alias("n_contains")
    )


def q_nodequery_matchtext(spark, sf_dir):
    """Compiled :matchText (round 5): the node table is built from the
    prepare_match_text-rewritten tree (node_table_df(match_text=True)) so
    the pseudo is a JVM column predicate and every combinator/positional
    pseudo sees the rewritten sibling structure.  One <p>{word}<br>go</p>
    per word: each p carries one pseudo text-run per non-empty word plus
    the constant 'go' run (n_pseudo); the word-run — the p's :first-child
    after the rewrite — matches (?i)e exactly when the word contains an
    'e' (n_first_e; 'go' never does)."""
    from ksoup_spark.operators import nodequery

    d = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    html = F.concat(
        F.lit("<div>"),
        F.array_join(
            F.transform(words, lambda w: F.concat(
                F.lit("<p>"), w, F.lit("<br>go</p>"))),
            "",
        ),
        F.lit("</div>"),
    )
    nodes = extract.node_table_df(
        d.select("doc_id", html.alias("html")),
        text_columns=("text",), match_text=True)
    all_mt = nodequery.compile_selector(nodes, "p > p:matchText") \
        .groupBy(F.col("doc_id").cast("long").alias("doc_id")) \
        .agg(F.count(F.lit(1)).cast("int").alias("n_pseudo"))
    first_e = nodequery.compile_selector(
        nodes, "p:matchText:first-child:matches((?i)e)") \
        .groupBy(F.col("doc_id").cast("long").alias("doc_id")) \
        .agg(F.count(F.lit(1)).cast("int").alias("n_first_e"))
    return all_mt.join(first_e, "doc_id", "left").select(
        "doc_id", "n_pseudo",
        F.coalesce("n_first_e", F.lit(0)).cast("int").alias("n_first_e"))


def q_spans_pipeline(spark, sf_dir):
    """Full interleaved pipeline: corpus table -> extract -> span summary."""
    corpus = build_docs_table(spark, sf_dir)
    spans = extract.extract_spans_df(corpus.select("doc_id", "spans"))
    return spans.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        F.array_join(F.transform("spans", lambda s: s["kind"]), ",").alias("kinds"),
        F.col("spans")[0]["text"].alias("body_text"),
        F.col("spans")[1]["media_ref"].alias("media_ref"),
        F.col("spans")[2]["text"].alias("tail_text"),
    )


# ---------------------------------------------------------------------------
# training-data pipeline queries
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_docs(spark, sf_dir))


def q_dedup_jaccard(spark, sf_dir):
    return dedup.jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.2)


def _url_dedup_sql() -> str:
    from ksoup_spark.operators import urls

    synth = (
        "CASE WHEN doc_id % 2 = 0 THEN "
        "'HTTPS://Example' || CAST(doc_id % 50 AS VARCHAR) || '.COM:443//p//'"
        " || CAST(doc_id % 100 AS VARCHAR) || '?utm_source=a&x=1#frag' "
        "ELSE 'https://example' || CAST(doc_id % 50 AS VARCHAR) || '.com/p/'"
        " || CAST(doc_id % 100 AS VARCHAR) || '?x=1&utm_campaign=z' END"
    )
    canon = urls.canonical_url_sql(f"({synth})")
    return f"""
WITH u AS (SELECT doc_id, {canon} AS canon_url FROM documents)
SELECT canon_url, min(doc_id) AS canonical_id,
       count(*) AS n_variants
FROM u GROUP BY canon_url
"""


def q_url_dedup(spark, sf_dir):
    """URL canonicalization + URL-level dedup: two URL spellings per doc
    family (host case, default port, duplicate slashes, tracking params,
    fragments) must collapse to one canonical URL; groups of 5 docs share
    a page. The canonicalizer is pure JVM regex; the oracle runs the
    IDENTICAL regex pipeline in DuckDB."""
    from ksoup_spark.operators import urls

    d = _docs(spark, sf_dir)
    h = (F.col("doc_id") % 50).cast("string")
    m = (F.col("doc_id") % 100).cast("string")
    url = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("HTTPS://Example"), h, F.lit(".COM:443//p//"), m,
                 F.lit("?utm_source=a&x=1#frag")),
    ).otherwise(
        F.concat(F.lit("https://example"), h, F.lit(".com/p/"), m,
                 F.lit("?x=1&utm_campaign=z")),
    )
    return urls.url_dedup(d.select("doc_id", url.alias("url")))


def q_unigram_logprob(spark, sf_dir):
    """Corpus-informed unigram log-prob quality score (LM-perplexity
    stand-in): top-k vocabulary from one corpus aggregate, broadcast to
    the per-doc scoring join."""
    return textstats.unigram_logprob(_docs(spark, sf_dir), top_k=500)


def q_dedup_clusters(spark, sf_dir):
    """Connected components over the jaccard near-dup pair graph — the
    step a dedup pipeline runs after pair generation to pick one canonical
    doc per duplicate cluster. Iterative min-label propagation, checked
    against a DuckDB recursive-CTE transitive closure."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.jaccard_pairs(docs, n=3, threshold=0.2)
    return dedup.near_dup_clusters(docs, pairs)


def q_minhash_signatures(spark, sf_dir):
    """Oracle-checked MinHash signatures (md5 hash family, portable SQL)."""
    return dedup.minhash_signatures_md5(_docs(spark, sf_dir), num_hashes=8)


def q_dedup_minhash_lsh(spark, sf_dir):
    """Banded MinHash-LSH candidate pairs, md5 hash family: the full LSH
    path (banding, bucket join, agreement estimate) is value-hash-checked
    against a DuckDB twin. The xxhash64 production variant
    (dedup.minhash_lsh_pairs) shares the identical plan shape."""
    return dedup.minhash_lsh_pairs_md5(_docs(spark, sf_dir), num_hashes=8,
                                       bands=4, threshold=0.25)


def q_gopher_quality(spark, sf_dir):
    """Gopher/MassiveText-style quality filter flags (word-count bounds,
    mean word length, symbol ratio, alphabetic-word ratio)."""
    return textstats.gopher_quality(_docs(spark, sf_dir), min_words=30)


def q_repetition(spark, sf_dir):
    """Within-doc repetition metrics (dup-bigram fraction, top-bigram
    coverage) — the Gopher repetition rule family, per-row, no shuffle."""
    return textstats.repetition(_docs(spark, sf_dir), n=2)


def q_passage_dedup(spark, sf_dir):
    """CCNet-style cross-corpus passage dedup: an 8-word banner prepended
    to every document becomes a corpus-wide duplicate passage and must be
    stripped from all of them; document-unique passages survive in order.

    Round 5: the row also carries the benchmark-DECONTAMINATION panel
    (dedup.decontaminate — the standard n-gram-overlap eval-set filter):
    docs with doc_id % 41 == 0 double as the 'benchmark' set, so each of
    those flags at contamination 1.0 and every other doc flags only on
    genuine 8-gram overlap with them — exactly computable in SQL."""
    d = _docs(spark, sf_dir)
    banner = "common banner eight words repeated across all docs "
    seeded = d.select(
        "doc_id",
        F.concat(F.lit(banner), F.col("text")).alias("text"),
    )
    pd_ = dedup.passage_dedup(seeded, size=8, max_df=1)
    bench = d.filter(F.col("doc_id") % 41 == 0)
    dec = dedup.decontaminate(d, bench, n=8, threshold=0.5)
    return pd_.join(dec, "doc_id").select(
        "doc_id", "n_passages", "n_removed", "clean_text",
        "n_shingles", "n_contaminated", "contamination", "flagged",
    )


def q_curation_pipeline(spark, sf_dir):
    """End-to-end curation composition: boilerplate-wrapped HTML ->
    main-content extraction (kernel) -> Gopher quality flags -> content
    fingerprint + exact-dup group size — the whole filter chain a
    training-data pipeline runs per document, value-checked in SQL."""
    d = _docs(spark, sf_dir)
    html = F.concat(
        F.lit('<html><head><script>t()</script></head><body>'
              '<nav><a href="/">Home</a></nav><article><p>'),
        F.col("text"),
        F.lit('</p></article><footer>(c)</footer></body></html>'),
    )
    main = d.select("doc_id", H.html_main_text(html).alias("main_text"))
    flags = textstats.gopher_quality(
        main.select("doc_id", F.col("main_text").alias("text")),
        min_words=30)
    fp = main.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.regexp_replace("main_text", "\\s+", " "))))
        .alias("fingerprint"),
    )
    dup_sz = fp.groupBy("fingerprint").agg(
        F.count(F.lit(1)).cast("int").alias("n_dups"))
    # round 5: the PII-scrub stage rides the same row — every third doc
    # gets a planted email + IPv4 + phone appended, so per-type counts and
    # the scrubbed-text hash are exact in SQL (textstats.pii_scrub_sql
    # carries the identical Java/RE2-compatible patterns)
    pii_src = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact u"), F.col("doc_id").cast("string"),
                F.lit("@example.org or 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".9 call +1 (555) 010-99"),
                (F.col("doc_id") % 90 + 10).cast("string"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    pii = textstats.pii_scrub(pii_src).select(
        "doc_id", "n_emails", "n_ips", "n_phones",
        F.md5("clean_text").alias("pii_md5"))
    return (
        flags.select("doc_id", "n_words", "keep")
        .join(fp, "doc_id")
        .join(dup_sz, "fingerprint")
        .join(pii, "doc_id")
        .select("doc_id", "n_words", "keep", "fingerprint", "n_dups",
                "n_emails", "n_ips", "n_phones", "pii_md5")
    )


def q_simhash(spark, sf_dir):
    return textstats.simhash(_docs(spark, sf_dir))


def q_simhash_near_dups(spark, sf_dir):
    sh = textstats.simhash(_docs(spark, sf_dir))
    return dedup.simhash_near_dups(sh, band_bits=15, total_bits=60, max_hamming=3)


def q_lang_id(spark, sf_dir):
    """Stopword-overlap language ID; round 5, the row also carries the
    deterministic train/val/test split assignment (sampling.corpus_split,
    md5 family so DuckDB reproduces the identical bucket arithmetic —
    the production path is the same expression over xxhash64)."""
    lang = textstats.lang_id(_docs(spark, sf_dir))
    return sampling.corpus_split(lang, hash="md5")


def q_quality(spark, sf_dir):
    return textstats.quality_score(_docs(spark, sf_dir))



def q_token_count_bpe(spark, sf_dir):
    """BPE-ish pretokenizer counts (same lookahead-free regex runs under
    Java regex and DuckDB RE2, so counts are value-hash-checked)."""
    return textstats.bpe_token_count(_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    return textstats.fingerprint(_docs(spark, sf_dir))


def q_ann_bruteforce(spark, sf_dir):
    return similarity.cosine_topk(_emb(spark, sf_dir), query_ids=[0, 1, 2, 3, 4], k=3)


def q_ann_ivf(spark, sf_dir):
    """IVF ANN in the exact configuration (nprobe == n_centroids): the
    coarse-quantizer machinery must reproduce brute-force cosine top-k
    (value-hash-checked against the same SQL oracle)."""
    return similarity.ivf_ann(_emb(spark, sf_dir), query_ids=[0, 1, 2, 3, 4],
                              k=3, n_centroids=4, nprobe=4, iters=2)


EMB_DIM = 64  # testdata embeddings dimension (TESTDATA.md contract)


def q_ann_lsh(spark, sf_dir):
    """LSH-bucketed ANN: md5-derived hyperplanes are deterministic, so the
    bucket ids and the within-bucket top-k have an exact DuckDB twin."""
    return similarity.lsh_ann(_emb(spark, sf_dir), EMB_DIM,
                              query_ids=[0, 1, 2, 3, 4], k=3)


def q_ann_lsh_recall(spark, sf_dir):
    """Measured LSH recall vs brute-force top-k, per query (the quality
    meter the approximate path ships with), oracle-checked."""
    return similarity.lsh_recall(_emb(spark, sf_dir), EMB_DIM,
                                 query_ids=[0, 1, 2, 3, 4], k=3)


def _aug_emb(spark, sf_dir):
    """Embeddings table augmented with deterministic planted near-dup
    twins (vec_id+1e6, first component +0.01, all math in double) so the
    bucketed near-dup path is value-verified against POSITIVE pairs — the
    raw test corpus has none above 0.8, which made the oracle vacuous."""
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    planted = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x + F.lit(0.01)).otherwise(x),
        ).alias("embedding"),
    )
    return emb.unionByName(planted)


_AUG_EMB_SQL = """
base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
aug AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(v, (x, i) -> CASE WHEN i = 1 THEN x + 0.01
                                          ELSE x END) AS v
  FROM base WHERE vec_id < 3
)"""


def q_cosine_near_dups(spark, sf_dir):
    """Bucketed plan (LSH candidates + exact verify, no cartesian) checked
    against the all-pairs SQL oracle, on the twin-augmented corpus so the
    result is non-empty (the buckets must actually FIND the planted pairs).

    auto_from scales (planes, seeds) with the corpus so per-seed bucket
    collisions stay ~linear in n (similarity.auto_lsh_params; at the
    driver's sf0.01 this resolves to (4, 7) — a superset of the old fixed
    (4, 6) seeds, so the exact-verified result is unchanged).
    recall_sim=0.95 is sound on this corpus: unit gaussians at dim 64 put
    random pairs ~6.4σ below 0.8 (none in 200M pairs at sf1), while the
    planted twins sit at cosine ≈ 0.9998 where per-seed collision
    probability is p ≈ 0.994 — the miss bound at 0.95 is conservative for
    every pair that actually exists."""
    aug = _aug_emb(spark, sf_dir)
    return similarity.cosine_near_dups(aug, threshold=0.8, dim=EMB_DIM,
                                       auto_from=aug.count(),
                                       recall_sim=0.95)


def q_cosine_near_dup_recall(spark, sf_dir):
    """Recall of the bucketed candidate path vs the exact all-pairs twin on
    the augmented corpus. The SQL oracle emits recall = 1.0 by construction,
    so this row FAILS loudly if the LSH seeds ever miss a true pair on the
    test corpus (the guard the deterministic-hyperplane design relies on)."""
    aug = _aug_emb(spark, sf_dir)
    exact = similarity.cosine_near_dups(aug, threshold=0.8, dim=None) \
        .select("id_a", "id_b")
    bucketed = similarity.cosine_near_dups(aug, threshold=0.8, dim=EMB_DIM,
                                           auto_from=aug.count(),
                                           recall_sim=0.95) \
        .select("id_a", "id_b")
    found = exact.join(bucketed, ["id_a", "id_b"], "left_semi")
    return exact.agg(F.count(F.lit(1)).alias("n_true")).crossJoin(
        found.agg(F.count(F.lit(1)).alias("n_found"))
    ).select(
        "n_true", "n_found",
        F.round(F.col("n_found") / F.col("n_true"), 4).alias("recall"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "html_text_roundtrip": q_html_text_roundtrip,
        "html_entity_roundtrip": q_html_entity_roundtrip,
        "html_media_spans": q_html_media_spans,
        "selector_class": q_selector_class,
        "selector_nth": q_selector_nth,
        "css_paths": q_css_paths,
        "nodequery_contains": q_nodequery_contains,
        "nodequery_has": q_nodequery_has,
        "nodequery_matchtext": q_nodequery_matchtext,
        # cosine rows live early in the registry: the driver's oracle window
        # covers the first 50 entries, and these two fell outside it in r4
        # (VERDICT r4 task #1).  The redundant selector_count / html_title
        # rows moved to the tail instead.
        "cosine_near_dups": q_cosine_near_dups,
        "cosine_near_dup_recall": q_cosine_near_dup_recall,
        "attr_absurl": q_attr_absurl,
        "wholetext_pre": q_wholetext_pre,
        "node_table": q_node_table,
        "xml_mode": q_xml_mode,
        "bytes_charset": q_bytes_charset,
        "select_elements": q_select_elements,
        "html_clean": q_html_clean,
        "main_content": q_main_content,
        "html_rewrite": q_html_rewrite,
        "match_text": q_match_text,
        "pdf_layout": q_pdf_layout,
        "parse_errors": q_parse_errors,
        "src_ranges": q_src_ranges,
        "form_controls": q_form_controls,
        "media_meta": q_media_meta,
        "media_frames": q_media_frames,
        "nodequery_compiled": q_nodequery_compiled,
        "spans_pipeline": q_spans_pipeline,
        "dedup_exact": q_dedup_exact,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "url_dedup": q_url_dedup,
        "unigram_logprob": q_unigram_logprob,
        "curation_pipeline": q_curation_pipeline,
        "gopher_quality": q_gopher_quality,
        "repetition": q_repetition,
        "passage_dedup": q_passage_dedup,
        "minhash_signatures": q_minhash_signatures,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "simhash": q_simhash,
        "simhash_near_dups": q_simhash_near_dups,
        "lang_id": q_lang_id,
        "quality": q_quality,
        "token_count_bpe": q_token_count_bpe,
        "fingerprint": q_fingerprint,
        "ann_bruteforce": q_ann_bruteforce,
        "ann_ivf": q_ann_ivf,
        "ann_lsh": q_ann_lsh,
        "ann_lsh_recall": q_ann_lsh_recall,
        # Round-5 registry compaction (VERDICT r4 task #1): exactly 50
        # entries so EVERY row sits inside the driver's checked oracle
        # window — no silently-unchecked tail.  Former standalone rows were
        # folded into in-window twins, none dropped:
        #   selector_count -> selector_nth (count columns moved verbatim),
        #   html_title     -> html_text_roundtrip (dynamic title column),
        #   token_count    -> token_count_bpe (n_distinct_tokens column;
        #                     n_ws_tokens was already there),
        #   src_positions  -> strictly subsumed by src_ranges (p_start IS
        #                     the start offset src_positions asserted).
    }


def oracle_sql() -> dict[str, str]:
    return {
        "html_text_roundtrip": """
            SELECT doc_id, text AS text_out,
                   'Doc ' || doc_id || ' : ' || rtrim(substr(text, 1, 20))
                     AS title
            FROM documents
        """,
        "html_entity_roundtrip":
            "SELECT doc_id, text AS text_out FROM documents",
        "html_media_spans": """
            SELECT doc_id, 3 AS n_spans, text AS body_text,
                   'http://m.example/' || doc_id || '.png' AS media_ref,
                   'tail' AS tail_text
            FROM documents
        """,
        "selector_class": """
            SELECT doc_id,
                   array_to_string(
                     list_filter(string_split(text, ' '), (w, i) -> (i-1) % 3 = 1),
                     ' ') AS matched
            FROM documents
        """,
        "selector_nth": """
            SELECT doc_id,
                   array_to_string(
                     list_filter(string_split(text, ' '), (w, i) -> (i-1) % 3 = 0),
                     ' ') AS matched,
                   CAST(floor(len(string_split(text, ' ')) / 2) AS INT) AS n_even,
                   CAST(ceil(len(string_split(text, ' ')) / 3.0) AS INT) AS n_w0,
                   CAST(CASE WHEN len(string_split(text, ' ')) >= 2
                        THEN 1 ELSE 0 END AS INT) AS n_second
            FROM documents
        """,
        "nodequery_contains": """
            SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '),
                                        w -> contains(lower(w), 'e'))) AS INT)
                     AS n_contains
            FROM documents
            WHERE len(list_filter(string_split(text, ' '),
                                  w -> contains(lower(w), 'e'))) > 0
        """,
        "nodequery_has": """
            SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '),
                                        (w, i) -> (i-1) % 3 = 1)) AS INT)
                     AS n_has,
                   CAST(len(list_filter(string_split(text, ' '),
                                        (w, i) -> (i-1) % 3 = 1)) AS INT)
                     AS n_nested,
                   CAST(len(list_filter(string_split(text, ' '),
                                        (w, i) -> (i-1) % 3 = 2)) AS INT)
                     AS n_sibhas,
                   CAST(len(list_filter(string_split(text, ' '),
                                        (w, i) -> (i-1) % 3 <> 1)) AS INT)
                     AS n_or,
                   CAST(len(string_split(text, ' ')) AS INT) AS n_root,
                   CAST(len(list_filter(string_split(text, ' '),
                                        (w, i) -> (i-1) % 3 = 1)) AS INT)
                     AS n_lt
            FROM documents
            WHERE len(list_filter(string_split(text, ' '),
                                  (w, i) -> (i-1) % 3 = 1)) > 0
        """,
        "nodequery_matchtext": """
            -- one <p>{word}<br>go</p> per word: a pseudo text-run per
            -- non-empty word plus the constant 'go' run; the word-run is
            -- the p's :first-child and matches (?i)e iff the word has an e
            SELECT doc_id,
                   CAST(len(string_split(text, ' '))
                        + len(list_filter(string_split(text, ' '),
                                          w -> len(w) > 0)) AS INT)
                     AS n_pseudo,
                   CAST(len(list_filter(string_split(text, ' '),
                                        w -> contains(lower(w), 'e'))) AS INT)
                     AS n_first_e
            FROM documents
        """,
        "css_paths": """
            SELECT doc_id,
                   array_to_string(
                     list_prepend('#h0',
                       list_transform(range(2, len(string_split(text, ' ')) + 1),
                         i -> 'html > body > div > p:nth-child(' || i || ')')),
                     '|') AS css_paths
            FROM documents
        """,
        "attr_absurl": """
            SELECT doc_id,
                   'http://base.example/dir/p/' || doc_id || '.html' AS a_href,
                   'http://base.example/i/' || doc_id || '.png' AS img_src
            FROM documents
        """,
        "wholetext_pre":
            "SELECT doc_id, replace(text, ' ', chr(10)) AS whole FROM documents",
        "node_table": """
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) + 4 AS BIGINT) AS n_elements,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_text_nodes,
                   5 AS max_depth
            FROM documents
        """,
        "xml_mode": """
            SELECT doc_id, string_split(text, ' ')[3] AS third_word
            FROM documents
        """,
        "bytes_charset":
            "SELECT doc_id, replace(text, 'e', 'é') AS text_out FROM documents",
        "main_content":
            "SELECT doc_id, text AS main_text FROM documents",
        "html_rewrite": """
            SELECT doc_id,
                   '<p id="k" data-m="1">' || text || '</p>' AS rewritten
            FROM documents
        """,
        "match_text":
            "SELECT doc_id, text || ' | tail-run' AS runs FROM documents",
        "html_clean": """
            SELECT doc_id,
                   '<p>' || text || '</p><blockquote cite="http://c.x/">q</blockquote>'
                     AS cleaned
            FROM documents
        """,
        "nodequery_compiled": """
            SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '),
                                        (w, i) -> (i-1) % 3 = 1
                                          AND (len(string_split(text, ' ')) - i) % 3 = 0))
                     AS INT) AS n_matched
            FROM documents
            WHERE len(list_filter(string_split(text, ' '),
                                  (w, i) -> (i-1) % 3 = 1
                                    AND (len(string_split(text, ' ')) - i) % 3 = 0)) > 0
        """,
        "select_elements": """
            SELECT doc_id,
                   unnest(list_transform(
                     list_filter(string_split(text, ' '), (w, i) -> (i-1) % 3 = 2),
                     (w, i) -> {'match_index': i-1, 'own_text': w}),
                     recursive := true)
            FROM documents
        """,
        "spans_pipeline": """
            SELECT printf('doc-%08d', doc_id) AS doc_id,
                   3 AS n_spans,
                   'text,' || CASE doc_id % 3 WHEN 0 THEN 'image'
                              WHEN 1 THEN 'video' ELSE 'object' END
                           || ',text' AS kinds,
                   CASE doc_id % 3
                     WHEN 2 THEN 'Doc & ' || printf('doc-%08d', doc_id)
                                 || ' ' || replace(text, ' ', chr(10))
                     ELSE text END AS body_text,
                   'http://corpus.example/' || printf('doc-%08d', doc_id)
                     || '/media/' || printf('doc-%08d', doc_id) || '.bin'
                     AS media_ref,
                   'tail of ' || printf('doc-%08d', doc_id) AS tail_text
            FROM documents
        """,
        "pdf_layout": """
            SELECT doc_id::VARCHAR AS media_id, 0 AS page, 0 AS block,
                   'text' AS kind, 72.0::DOUBLE AS x0, 720.0::DOUBLE AS y0,
                   round(72.0::DOUBLE + 0.6::DOUBLE*12*length('Doc ' || doc_id), 2) AS x1,
                   732.0::DOUBLE AS y1, 'Doc ' || doc_id AS text
            FROM documents
            UNION ALL
            SELECT doc_id::VARCHAR, 0, 1, 'text', 72.0::DOUBLE, 700.0::DOUBLE,
                   round(72.0::DOUBLE + 0.6::DOUBLE*10*length(text), 2),
                   710.0::DOUBLE, text
            FROM documents
            UNION ALL
            SELECT doc_id::VARCHAR, 0, 2, 'image', 30.0::DOUBLE, 40.0::DOUBLE,
                   130.0::DOUBLE, 90.0::DOUBLE, NULL
            FROM documents
            UNION ALL
            SELECT doc_id::VARCHAR, 1, 0, 'text', 72.0::DOUBLE, 720.0::DOUBLE,
                   round(72.0::DOUBLE + 0.6::DOUBLE*12*length('p2 of ' || doc_id), 2),
                   732.0::DOUBLE, 'p2 of ' || doc_id
            FROM documents
        """,
        "media_meta": """
            WITH m AS (
              SELECT doc_id::VARCHAR AS media_id, 'ID3' || text AS payload
              FROM documents
            )
            SELECT media_id, 'audio' AS kind,
                   CAST(length(payload) AS INT) AS n_bytes,
                   'mp3' AS format,
                   NULL AS width, NULL AS height,
                   CAST(('0x' || substr(sha256(payload), 5, 4))::BIGINT
                        AS INT) AS duration_ms,
                   sha256(payload) AS sha256
            FROM m
        """,
        "media_frames": """
            WITH m AS (
              SELECT doc_id::VARCHAR AS media_id, 'ID3' || text AS payload
              FROM documents
            ), f AS (
              SELECT media_id, payload,
                     unnest(generate_series(
                       0, least(3, greatest(1, length(payload) // 128)) - 1
                     )) AS frame_index
              FROM m
            )
            SELECT media_id, CAST(frame_index AS INT) AS frame_index,
                   md5(substring(payload, frame_index * 128 + 1, 128))
                     AS frame_md5
            FROM f
        """,
        "form_controls": """
            SELECT doc_id,
                   4 AS n_controls,
                   -- the second <form> start tag is IGNORED (form
                   -- pointer already set, spec + reference behavior), so
                   -- every control associates with the single open form
                   '0:input:h' || CAST(doc_id AS VARCHAR)
                   || ' 0:input:t' || CAST(doc_id AS VARCHAR)
                   || ' 0:select:s' || CAST(doc_id AS VARCHAR)
                   || ' 0:button:b' || CAST(doc_id AS VARCHAR) AS controls
            FROM documents
        """,
        "src_ranges": """
            -- html = text || LF || '<p id=zz>x</p>' || LF || '<i>y'
            -- p start tag spans [L+1, L+10), </p> spans [L+11, L+15);
            -- p sits on line 2 col 1 (the injected newline at L);
            -- <i> is never closed so its end range is implicit at EOF
            -- (n = L+20); attr id: name [L+4, L+6), value [L+7, L+9)
            SELECT doc_id,
                   CAST(length(text) + 1 AS INT)  AS p_start,
                   CAST(length(text) + 10 AS INT) AS p_end,
                   CAST(length(text) + 11 AS INT) AS p_close_start,
                   CAST(length(text) + 15 AS INT) AS p_close_end,
                   2 AS p_line,
                   1 AS p_col,
                   CAST(length(text) + 20 AS INT) AS i_close_start,
                   CAST(length(text) + 20 AS INT) AS i_close_end,
                   CAST(length(text) + 4 AS INT)  AS id_name_start,
                   CAST(length(text) + 9 AS INT)  AS id_val_end
            FROM documents
        """,
        "parse_errors": """
            SELECT doc_id,
                   CAST(length(text) - length(replace(text, ' ', '')) + 1
                        AS INT) AS n_errors,
                   '<1:' || CAST(3 + length(replace(text, ' ', '&amp ')) + 12
                                 AS VARCHAR)
                   || '>: Attributes incorrectly present on end tag [/p]'
                     AS last_error
            FROM documents
        """,
        "dedup_exact": dedup.exact_dedup_sql(),
        "dedup_jaccard": dedup.jaccard_pairs_sql(n=3, threshold=0.2),
        "dedup_clusters": dedup.near_dup_clusters_sql(
            dedup.jaccard_pairs_sql(n=3, threshold=0.2)),
        "url_dedup": _url_dedup_sql(),
        "unigram_logprob": textstats.unigram_logprob_sql(top_k=500),
        "curation_pipeline": f"""
            WITH flags AS ({textstats.gopher_quality_sql(min_words=30)}),
            fp AS (
              SELECT doc_id,
                     md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                       AS fingerprint
              FROM documents
            ), dup AS (
              SELECT fingerprint, CAST(count(*) AS INT) AS n_dups
              FROM fp GROUP BY fingerprint
            )
            SELECT flags.doc_id, flags.n_words, flags.keep,
                   fp.fingerprint, dup.n_dups,
                   pii.n_emails, pii.n_ips, pii.n_phones,
                   md5(pii.clean_text) AS pii_md5
            FROM flags JOIN fp USING (doc_id) JOIN dup USING (fingerprint)
            JOIN ({textstats.pii_scrub_sql(
                table="(SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN "
                      "text || ' contact u' || CAST(doc_id AS VARCHAR) || "
                      "'@example.org or 10.0.' || "
                      "CAST(doc_id % 256 AS VARCHAR) || "
                      "'.9 call +1 (555) 010-99' || "
                      "CAST(doc_id % 90 + 10 AS VARCHAR) "
                      "ELSE text END AS text FROM documents)")}) pii
            USING (doc_id)
        """,
        "gopher_quality": textstats.gopher_quality_sql(min_words=30),
        "repetition": textstats.repetition_sql(n=2),
        "passage_dedup": f"""
            WITH pd AS ({dedup.passage_dedup_sql(
                table="(SELECT doc_id, 'common banner eight words repeated "
                      "across all docs ' || text AS text FROM documents)",
                size=8, max_df=1)}),
            dec AS ({dedup.decontaminate_sql(
                table="documents", bench_filter="doc_id % 41 = 0",
                n=8, threshold=0.5)})
            SELECT pd.doc_id, pd.n_passages, pd.n_removed, pd.clean_text,
                   dec.n_shingles, dec.n_contaminated, dec.contamination,
                   dec.flagged
            FROM pd JOIN dec USING (doc_id)
        """,
        "minhash_signatures": dedup.minhash_signatures_md5_sql(num_hashes=8),
        "simhash": textstats.simhash_sql(),
        "simhash_near_dups": f"""
            WITH sh AS ({textstats.simhash_sql()})
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   bit_count(xor(a.simhash, b.simhash)) AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        """,
        "lang_id": sampling.corpus_split_sql(
            table=f"({textstats.lang_id_sql()})"),
        "quality": textstats.quality_score_sql(),
        "token_count_bpe": """
            SELECT doc_id,
                   len(regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+')) AS n_bpe_pretokens,
                   len(list_filter(regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+'),
                                   t -> NOT regexp_matches(t, '^\\s+$'))) AS n_bpe_nonspace,
                   len(string_split(text, ' ')) AS n_ws_tokens,
                   len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens
            FROM documents
        """,
        "fingerprint": """
            SELECT doc_id,
                   md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                     AS fingerprint
            FROM documents
        """,
        "dedup_minhash_lsh": dedup.minhash_lsh_pairs_md5_sql(
            num_hashes=8, bands=4, threshold=0.25),
        "ann_bruteforce": similarity.cosine_topk_sql([0, 1, 2, 3, 4], k=3),
        "ann_ivf": similarity.cosine_topk_sql([0, 1, 2, 3, 4], k=3),
        "ann_lsh": similarity.lsh_ann_sql(EMB_DIM, [0, 1, 2, 3, 4], k=3),
        "ann_lsh_recall": similarity.lsh_recall_sql(EMB_DIM, [0, 1, 2, 3, 4],
                                                    k=3),
        "cosine_near_dups": f"""
            WITH {_AUG_EMB_SQL}
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))), 4) AS sim
            FROM aug a JOIN aug b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))) >= 0.8
        """,
        "cosine_near_dup_recall": f"""
            WITH {_AUG_EMB_SQL},
            truth AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM aug a JOIN aug b ON a.vec_id < b.vec_id
              WHERE list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v))
                       * sqrt(list_dot_product(b.v, b.v))) >= 0.8
            )
            -- asserts FULL recall: the Spark side measures the bucketed
            -- path against the exact twin; any LSH miss mismatches here
            SELECT count(*) AS n_true, count(*) AS n_found,
                   CAST(1.0 AS DOUBLE) AS recall
            FROM truth
        """,
    }
