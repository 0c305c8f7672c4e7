"""Tests of the benchmark's input generator (python3 -m pytest perfbench).

They cover determinism per seed, that seeds differ, and the expected-output
rules on hand-written cases.  None of them runs the program under test.
"""

import random
import re

import gen


def _sample(workload, seed, n=12):
    return [(d["doc_id"], d["input_spans"], d["spans"], d.get("expected"))
            for d in gen.generate(workload, seed, n)]


def test_same_seed_same_inputs():
    for wl in ("web_small", "web_large_media", "query_fanout", "pipeline_resume"):
        n = 3 if wl == "web_large_media" else 12
        assert _sample(wl, 5, n) == _sample(wl, 5, n)


def test_seeds_differ():
    for wl in ("web_small", "web_large_media", "query_fanout"):
        n = 3 if wl == "web_large_media" else 12
        a = [x[1:] for x in _sample(wl, 1, n)]
        b = [x[1:] for x in _sample(wl, 2, n)]
        assert a != b


def test_absurl_forms():
    base = gen.Base(random.Random(0))
    base.host, base.dirs, base.parent = "h.example", "d1/s2", "d1"
    cases = {
        (0, 0, "a.png"): ("img/a.png", "https://h.example/d1/s2/img/a.png"),
        (1, 0, "a.png"): ("../m/a.png", "https://h.example/d1/m/a.png"),
        (2, 0, "a.png"): ("/static/a.png", "https://h.example/static/a.png"),
        (3, 7, "a.png"): ("//cdn7.example/a.png", "https://cdn7.example/a.png"),
        (4, 0, "a.png"): ("./a.png", "https://h.example/d1/s2/a.png"),
        (5, 3, "a.png"): ("https://media3.example/a/a.png",
                          "https://media3.example/a/a.png"),
    }
    for ref, (raw, absu) in cases.items():
        assert gen.Base.raw(ref) == raw
        assert base.resolve(ref) == absu


def _render(body):
    g = gen.Gen(0, "t")
    d = gen.render(g, body)
    base = d["chunks"][0][1].split('<base href="')[1].split('"')[0]
    return d, base.rsplit("/", 1)[0]


def test_spans_flush_at_media_and_skip_fallback():
    s = gen.Section()
    s.words("<p>one <b>two</b>", ["one", "two"])
    s.html.append("</p>")
    s.events.append(("m", "image", (4, 0, "x.png")))
    s.events.append(("m", "video", (4, 0, "y.mp4")))   # no text between
    s.events.append(("f", "fallback words"))
    s.words("<p>three", ["three"])
    d, dir_ = _render(s)
    assert d["spans"] == [
        ("text", "one two", None, 0),
        ("image", None, f"{dir_}/x.png", 1),
        ("video", None, f"{dir_}/y.mp4", 2),
        ("text", "three", None, 3),
    ]
    assert d["body_text"] == "one two fallback words three"


def test_cut_media_becomes_input_span():
    g = gen.Gen(0, "t")
    s = gen.Section()
    s.words("<p>a</p>", ["a"])
    s.events.append(("cut", "object", (2, 0, "o.swf")))
    s.html.append(s.events[-1])
    s.words("<p>b</p>", ["b"])
    d = gen.render(g, s)
    kinds = [c[0] for c in d["chunks"]]
    assert kinds == ["html", "object", "html"]
    assert d["chunks"][1][1] == "/static/o.swf"
    assert d["chunks"][0][1].endswith("<p>a</p>")
    assert d["chunks"][2][1].startswith("<p>b</p>")
    assert [sp[0] for sp in d["spans"]] == ["text", "object", "text"]


def test_input_spans_reassemble_in_offset_order():
    chunks = [["html", "<p>a</p><p>b</p><p>c</p>"], ["image", "i.png"],
              ["html", "<p>d</p>"]]
    spans = gen.input_spans(random.Random(3), chunks)
    ordered = sorted(spans, key=lambda s: s["offset"])
    html = "".join(s["text"] for s in ordered if s["kind"] == "html")
    assert html == "<p>a</p><p>b</p><p>c</p><p>d</p>"
    assert [s["media_ref"] for s in ordered if s["kind"] != "html"] == ["i.png"]


def _text_of(html):
    """Hand rule for a run of inline HTML: tags vanish, <br> and &nbsp; are
    whitespace, entities decode, whitespace runs collapse."""
    html = html.replace("<br>", " ").replace("&nbsp;", " ")
    html = re.sub(r"</?[a-z]+[^>]*>", "", html)
    for ent, ch in gen._ENTITIES:
        html = html.replace(ent, ch)
    return " ".join(html.split())


def test_inline_run_rules():
    g = gen.Gen(11, "t")
    for _ in range(300):
        html, text, own = gen.run(g, 15, misnest=True)
        assert _text_of(html) == " ".join(text)
        assert len(text) == 15
    for _ in range(300):
        html, text, own = gen.run(g, 8, intra=False)
        outside = re.sub(r"<([a-z]+)[^>]*>[^<]*</\1>", " ", html)
        assert _text_of(outside) == " ".join(own)


def test_table_stray_text_moves_before_cells():
    g = gen.Gen(0, "t")
    for seed in range(40):
        g.rng.seed(seed)
        s = gen.Section()
        s.table(g, 4, 2, malformed=True)
        html = s.html[0]
        words = s.events[0][1].split(" ")
        cells = [c.split("</td>")[0] for c in html.split("<td>")[1:]]
        cell_words = " ".join(cells).split()
        assert words[len(words) - len(cell_words):] == cell_words


def test_digest_canon():
    spans = [("text", "a b", None, 0), ("image", None, "https://x/y.png", 1)]
    assert gen.spans_canon(spans) == (
        "text\x1fa b\x1f\x00\x1f0\x1eimage\x1f\x00\x1fhttps://x/y.png\x1f1")
    assert gen.spans_canon([]) == ""


def test_large_sizes_are_stratified():
    sizes = gen.large_sizes(random.Random(1), 100)
    assert sizes == sorted(sizes)
    assert 32 * 1024 <= sizes[0] and sizes[-1] <= 512 * 1024
