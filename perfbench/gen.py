"""Seeded input generator for the benchmark, with expected outputs built by
construction.

Every document is rendered from a small model: a stream of words and media
elements laid out in blocks (p, h2, ul/li, table, section div).  While the
HTML is rendered, the generator records what the extraction contract says
the program must return, applying the rules itself:

- Element.text(): whitespace runs (including &nbsp; and <br>) collapse to
  one space, inline tags add nothing, block boundaries add one space, so a
  text run is its words joined by single spaces.  A word split by an inline
  tag inside it ("wo<em>rd</em>") stays one word.  ownText() keeps only the
  words that are not inside a child element.
- span emission: the text accumulator flushes at each img/video/object,
  media fallback content is skipped, an empty text run emits nothing, and
  the offset is the span's index.
- absUrl: refs take a handful of relative and absolute forms whose
  resolution against the document's <base href> is known by construction.
- malformed markup (misnested formatting, unclosed p/li, stray text inside a
  table) keeps the word order, except stray table text, which HTML5 foster
  parenting moves in front of the table.

Nothing here imports the program under test.
"""

from __future__ import annotations

import hashlib
import math
import random

NULL = "\x00"      # stands for a null field inside a digest
FIELD_SEP = "\x1f"
ITEM_SEP = "\x1e"

KiB = 1024

# selectors of the query fan-out; the expected values below follow them
SELECT_TEXT_CSS = "div.sec > p"
SELECT_ELEMENTS_CSS = "li"
NODEQUERY_CSS = "div.sec li"

MEDIA_EXT = {"image": "png", "video": "mp4", "object": "swf"}


# ---------------------------------------------------------------------------
# digests (run.py builds the same canonical strings JVM-side)
# ---------------------------------------------------------------------------

def _field(v) -> str:
    return NULL if v is None else str(v)


def spans_canon(spans) -> str:
    return ITEM_SEP.join(FIELD_SEP.join(_field(x) for x in sp) for sp in spans)


def fanout_canon(exp: dict) -> str:
    li = ITEM_SEP.join(
        FIELD_SEP.join((str(i), tag, text, own, _field(cls)))
        for i, (tag, text, own, cls) in enumerate(exp["elements"]))
    return ITEM_SEP.join([
        exp["text"], exp["title"], FIELD_SEP.join(exp["select_text"]),
        FIELD_SEP.join(exp["media_refs"]), li, str(exp["nq_count"])])


def sha(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


# ---------------------------------------------------------------------------
# URLs: a <base href> and ref forms with known resolution
# ---------------------------------------------------------------------------

def new_ref(rng: random.Random, kind: str) -> tuple:
    """(form, host index, file name): the base-independent part of a ref."""
    name = f"m{rng.randrange(10 ** 6)}-{rng.randrange(100)}.{MEDIA_EXT[kind]}"
    return (rng.randrange(6), rng.randrange(9), name)


class Base:
    def __init__(self, rng: random.Random):
        self.host = f"h{rng.randrange(100)}.example"
        self.dirs = f"d{rng.randrange(50)}/s{rng.randrange(50)}"
        self.parent = self.dirs.split("/")[0]
        self.href = f"https://{self.host}/{self.dirs}/index.html"

    @staticmethod
    def raw(ref: tuple) -> str:
        form, k, name = ref
        return (f"img/{name}", f"../m/{name}", f"/static/{name}",
                f"//cdn{k}.example/{name}", f"./{name}",
                f"https://media{k}.example/a/{name}")[form]

    def resolve(self, ref: tuple) -> str:
        form, k, name = ref
        h = self.host
        return (f"https://{h}/{self.dirs}/img/{name}",
                f"https://{h}/{self.parent}/m/{name}",
                f"https://{h}/static/{name}",
                f"https://cdn{k}.example/{name}",
                f"https://{h}/{self.dirs}/{name}",
                f"https://media{k}.example/a/{name}")[form]


# ---------------------------------------------------------------------------
# words and inline runs
# ---------------------------------------------------------------------------

_ALNUM = "abcdefghijklmnopqrstuvwxyz0123456789"
_ENTITIES = (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'))
_INLINE = ("b", "i", "em", "strong", "span", "a")
_SEPS = (" ", "\n", "  ", " \t ", "\n  ", "<br>", " &nbsp; ")


def vocabulary(rng: random.Random, n: int = 1500) -> list[str]:
    return ["".join(rng.choices(_ALNUM, k=rng.randrange(2, 10)))
            for _ in range(n)]


def run(g: "Gen", n: int, *, intra: bool = True, misnest: bool = False,
        inline: bool = True) -> tuple[str, list[str], list[str]]:
    """n words as inline HTML -> (html, text() words, ownText() words).

    Plain words go out in bulk; about one word in five is decorated with an
    inline wrapper, an in-word tag split, an entity, a misnested <b><i>
    pair, or an unusual whitespace separator."""
    rng = g.rng
    words = rng.choices(g.vocab, k=n)
    html: list[str] = []
    text: list[str] = []
    own: list[str] = []
    i = 0
    while i < n:
        j = min(n, i + 1 + int(rng.expovariate(0.25)))
        plain = words[i:j]
        html.append(" ".join(plain))
        text.extend(plain)
        own.extend(plain)
        i = j
        if i >= n:
            break
        html.append(rng.choice(_SEPS))
        r = rng.random()
        if inline and r < 0.3 and i + 2 < n:
            tag = rng.choice(_INLINE)
            attrs = f' href="p{rng.randrange(999)}.html"' if tag == "a" else ""
            k = rng.randrange(1, 3)
            html.append(f"<{tag}{attrs}>{' '.join(words[i:i + k])}</{tag}>")
            text.extend(words[i:i + k])
            i += k
        elif misnest and r < 0.45 and i + 3 < n:
            w = words[i:i + 3]
            html.append(f"<b>{w[0]} <i>{w[1]}</b> {w[2]}</i>")
            text.extend(w)
            i += 3
        elif intra and r < 0.6 and len(words[i]) >= 4:
            w = words[i]
            c = rng.randrange(1, len(w) - 1)
            tag = rng.choice(("b", "em", "span"))
            html.append(f"{w[:c]}<{tag}>{w[c:]}</{tag}>")
            text.append(w)
            i += 1
        elif r < 0.8:
            w = words[i]
            ent, ch = rng.choice(_ENTITIES)
            html.append(f"{w}{ent}{w[:2]}")
            text.append(f"{w}{ch}{w[:2]}")
            own.append(f"{w}{ch}{w[:2]}")
            i += 1
        if i < n:
            html.append(" ")
    return "".join(html), text, own


# ---------------------------------------------------------------------------
# documents as html parts + events
# ---------------------------------------------------------------------------
# Events drive the expected outputs:
#   ("w", "words joined by spaces")  text for spans and for body text()
#   ("f", "words")                   media fallback: body text() only
#   ("m", kind, ref)                 a media element or media input span
#   ("cut", kind, ref)               the html stops here and this media
#                                    element is passed as its own input span


class Section:
    """A rendered fragment: html with its events."""

    def __init__(self):
        self.html: list[str] = []
        self.events: list[tuple] = []
        # query fan-out expectations (only fanout_doc reads these)
        self.select_text: list[str] = []
        self.elements: list[tuple] = []  # (tag, text, own_text, class)
        self.nq_count = 0

    def words(self, html: str, words: list[str]) -> None:
        self.html.append(html)
        if words:
            self.events.append(("w", " ".join(words)))

    def media(self, g: "Gen", as_input_span: bool = False) -> list[str]:
        """Add one media element; returns the fallback words it carries."""
        rng = g.rng
        kind = rng.choice(("image", "video", "object"))
        ref = new_ref(rng, kind)
        raw = Base.raw(ref)
        if as_input_span:
            self.events.append(("cut", kind, ref))
            return []
        fb: list[str] = []
        if kind == "image":
            alt = f' alt="{rng.choice(g.vocab)}"' if rng.random() < 0.5 else ""
            self.html.append(f' <img src="{raw}"{alt}> ')
        else:
            fb = rng.choices(g.vocab, k=rng.randrange(0, 3))
            if kind == "video":
                self.html.append(
                    f' <video controls><source src="{raw}" type="video/mp4">'
                    f'{" ".join(fb)}</video> ')
            else:
                self.html.append(f' <object data="{raw}">{" ".join(fb)}</object> ')
        self.events.append(("m", kind, ref))
        if fb:
            self.events.append(("f", " ".join(fb)))
        return fb

    # -- blocks -------------------------------------------------------------
    def paragraph(self, g: "Gen", n: int, *, in_section: bool,
                  malformed: bool = False, inline_media: bool = False) -> None:
        rng = g.rng
        if inline_media and n >= 6:
            cut = rng.randrange(2, n - 2)
            h1, t1, _ = run(g, cut, misnest=malformed)
            self.words("<p>" + h1, t1)
            fb = self.media(g)
            h2, t2, _ = run(g, n - cut, misnest=malformed)
            self.words(h2, t2)
            words = t1 + fb + t2
        else:
            h, words, _ = run(g, n, misnest=malformed)
            self.words("<p>" + h, words)
        self.html.append("\n" if malformed and rng.random() < 0.5 else "</p>\n")
        if in_section:
            self.select_text.append(" ".join(words))

    def heading(self, g: "Gen", n: int) -> None:
        h, words, _ = run(g, n, intra=False)
        self.words("<h2>" + h, words)
        self.html.append("</h2>\n")

    def ul(self, g: "Gen", items: int, *, in_section: bool,
           malformed: bool = False, cls: str | None = None) -> None:
        rng = g.rng
        self.html.append(f'<ul class="{cls}">' if cls else "<ul>")
        for _ in range(items):
            h, words, own = run(g, rng.randrange(1, 7), intra=False)
            li_cls = "item" if rng.random() < 0.3 else None
            self.words(f'<li class="{li_cls}">' + h if li_cls else "<li>" + h,
                       words)
            self.html.append("\n" if malformed and rng.random() < 0.5 else "</li>\n")
            self.elements.append(("li", " ".join(words), " ".join(own), li_cls))
            if in_section:
                self.nq_count += 1
        self.html.append("</ul>\n")

    def table(self, g: "Gen", rows: int, cols: int, *,
              malformed: bool = False) -> None:
        rng = g.rng
        html = ["<table>"]
        cells: list[str] = []
        stray: list[str] = []
        for _ in range(rows):
            if malformed and rng.random() < 0.3:
                # text between rows: foster-parented in front of the table
                ws = rng.choices(g.vocab, k=rng.randrange(1, 4))
                html.append(" " + " ".join(ws) + " ")
                stray.extend(ws)
            html.append("<tr>")
            for _ in range(cols):
                ws = rng.choices(g.vocab, k=rng.randrange(1, 4))
                html.append(f"<td>{' '.join(ws)}</td>")
                cells.extend(ws)
            html.append("</tr>")
        html.append("</table>\n")
        self.words("".join(html), stray + cells)

    def extend(self, other: "Section") -> None:
        self.html.extend(other.html)
        self.events.extend(other.events)
        self.select_text.extend(other.select_text)
        self.elements.extend(other.elements)
        self.nq_count += other.nq_count


def section(g: "Gen", *, malformed: bool) -> Section:
    """One element-dense <div class="sec"> with media every ~2 paragraphs."""
    rng = g.rng
    s = Section()
    s.html.append('<div class="sec">\n')
    s.heading(g, rng.randrange(2, 7))
    since_media = 0
    for _ in range(rng.randrange(3, 9)):
        r = rng.random()
        if r < 0.55:
            s.paragraph(g, rng.randrange(20, 70), in_section=True,
                        malformed=malformed and rng.random() < 0.5,
                        inline_media=rng.random() < 0.15)
            since_media += 1
        elif r < 0.8:
            s.ul(g, rng.randrange(2, 8), in_section=True,
                 malformed=malformed and rng.random() < 0.5)
        else:
            s.table(g, rng.randrange(2, 6), rng.randrange(2, 5),
                    malformed=malformed and rng.random() < 0.5)
        if since_media >= 2:
            s.media(g)
            since_media = 0
    s.html.append("</div>\n")
    return s


def render(g: "Gen", body: Section, title_words: int = 5) -> dict:
    """Wrap a body in a document with <title> and <base href>; resolve the
    events into expected spans, body text and input chunks."""
    rng = g.rng
    base = Base(rng)
    tw = rng.choices(g.vocab, k=title_words)
    ent, ch = rng.choice(_ENTITIES[:3])
    head = ("<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\">"
            f"<title>{'  '.join(tw)} x{ent}y</title>"
            f"<base href=\"{base.href}\"></head>\n<body>\n")
    spans: list[tuple] = []
    pending: list[str] = []
    body_text: list[str] = []
    refs: list[str] = []
    chunks: list[list] = []
    cur = [head]
    parts = iter(body.html)
    # a "cut" event also sits in the html part list, as the marker where
    # the html is split around the media input span
    for ev in body.events:
        tag = ev[0]
        if tag == "w":
            pending.append(ev[1])
            body_text.append(ev[1])
        elif tag == "f":
            body_text.append(ev[1])
        else:
            if pending:
                spans.append(("text", " ".join(pending), None, len(spans)))
                pending = []
            absu = base.resolve(ev[2])
            spans.append((ev[1], None, absu, len(spans)))
            refs.append(absu)
            if tag == "cut":
                cur.extend(_take(parts, ev))
                chunks.append(["html", "".join(cur)])
                chunks.append([ev[1], Base.raw(ev[2])])
                cur = []
    if pending:
        spans.append(("text", " ".join(pending), None, len(spans)))
    cur.extend(parts)
    cur.append("</body></html>\n")
    chunks.append(["html", "".join(cur)])
    return {"chunks": chunks, "spans": spans, "body_text": " ".join(body_text),
            "title": " ".join(tw) + f" x{ch}y", "media_refs": refs}


def _take(parts, ev) -> list[str]:
    """Html parts up to the marker a "cut" event left in the part stream."""
    out = []
    for p in parts:
        if p is ev:
            return out
        out.append(p)
    return out


def _cut_media(s: Section, g: "Gen") -> None:
    """A media element passed as its own input span at this point."""
    s.media(g, as_input_span=True)
    s.html.append(s.events[-1])  # marker: the html is split here


class Gen:
    def __init__(self, seed: int, salt: str):
        self.rng = random.Random(f"{salt}:{seed}")
        self.vocab = vocabulary(self.rng)


# ---------------------------------------------------------------------------
# input spans
# ---------------------------------------------------------------------------

def input_spans(rng: random.Random, chunks: list[list]) -> list[dict]:
    """Chunks -> interleaved input spans.  Html chunks are also split at a
    few tag boundaries (assemble_html concatenates them back), and the list
    is shuffled: the program must order by offset."""
    parts: list[list] = []
    for kind, val in chunks:
        if kind != "html":
            parts.append([kind, val])
            continue
        cuts = sorted({val.find("<", rng.randrange(1, len(val)))
                       for _ in range(rng.randrange(0, 3))} - {-1})
        prev = 0
        for c in cuts:
            parts.append(["html", val[prev:c]])
            prev = c
        parts.append(["html", val[prev:]])
    spans = [{"kind": k, "text": v if k == "html" else None,
              "media_ref": None if k == "html" else v, "offset": i}
             for i, (k, v) in enumerate(parts)]
    rng.shuffle(spans)
    return spans


def in_bytes(spans: list[dict]) -> int:
    """UTF-8 bytes of the input: html text plus media refs."""
    return sum(len((s["text"] or s["media_ref"] or "").encode("utf-8"))
               for s in spans)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def small_doc(g: Gen) -> dict:
    """~1-2 KB: title, base, 1-3 paragraphs, one media span."""
    rng = g.rng
    s = Section()
    n_par = rng.randrange(1, 4)
    media_at = rng.randrange(n_par + 1)
    as_span = rng.random() < 0.6
    for i in range(n_par + 1):
        if i == media_at:
            if as_span:
                _cut_media(s, g)
            else:
                s.media(g)
        if i < n_par:
            s.paragraph(g, rng.randrange(50, 130), in_section=False)
    return render(g, s)


class SectionPool:
    """Large pages are composed from a per-seed pool of rendered sections,
    so a 40 MB corpus costs a fraction of its size to generate.  Malformed
    pages draw half their sections from the malformed pool."""

    def __init__(self, g: Gen, n: int = 96):
        self.clean = [section(g, malformed=False) for _ in range(n)]
        self.bad = [section(g, malformed=True) for _ in range(n // 2)]
        for p in self.clean + self.bad:
            p.html = ["".join(p.html)]
            p.size = len(p.html[0])

    def page(self, g: Gen, target: int, malformed: bool) -> Section:
        rng = g.rng
        body = Section()
        size = 0
        while size < target:
            pool = self.bad if malformed and rng.random() < 0.5 else self.clean
            s = rng.choice(pool)
            body.html.extend(s.html)
            body.events.extend(s.events)
            size += s.size
            if rng.random() < 0.05:
                _cut_media(body, g)
        return body


def fanout_doc(g: Gen) -> dict:
    """~3-5 KB page for the accessor fan-out: a nav list outside the
    sections (matched by `li`, not by `div.sec li`), then 2-3 sections of
    h2/p/ul with media between blocks."""
    rng = g.rng
    body = Section()
    body.ul(g, rng.randrange(2, 5), in_section=False, cls="nav")
    for _ in range(rng.randrange(2, 4)):
        s = Section()
        s.html.append('<div class="sec">\n')
        s.heading(g, rng.randrange(2, 6))
        for _ in range(rng.randrange(2, 5)):
            if rng.random() < 0.65:
                s.paragraph(g, rng.randrange(15, 50), in_section=True)
            else:
                s.ul(g, rng.randrange(1, 5), in_section=True)
            if rng.random() < 0.35:
                s.media(g)
        s.html.append("</div>\n")
        body.extend(s)
    d = render(g, body)
    d["expected"] = {
        "text": d["body_text"], "title": d["title"],
        "select_text": body.select_text, "media_refs": d["media_refs"],
        "elements": body.elements, "nq_count": body.nq_count}
    return d


def large_sizes(rng: random.Random, n: int, lo: int = 32 * KiB,
                hi: int = 512 * KiB) -> list[int]:
    """Stratified log-uniform sizes: one draw per 1/n quantile band, so the
    size mix (and so the work per run) barely moves between seeds."""
    span = math.log(hi / lo)
    return [int(lo * math.exp(span * (i + rng.random()) / n)) for i in range(n)]


def generate(workload: str, seed: int, n: int) -> list[dict]:
    """n documents of a workload.  Each is a dict with doc_id, input_spans,
    html, the expected spans and (query_fanout) the expected accessor
    values."""
    g = Gen(seed, workload)
    docs: list[dict] = []
    if workload == "web_large_media":
        pool = SectionPool(g)
        sizes = large_sizes(g.rng, n)
        malformed = [g.rng.random() < 0.3 for _ in range(n)]
    for i in range(n):
        if workload in ("web_small", "pipeline_resume"):
            d = small_doc(g)
        elif workload == "web_large_media":
            d = render(g, pool.page(g, sizes[i], malformed[i]))
        elif workload == "query_fanout":
            d = fanout_doc(g)
        else:
            raise ValueError(f"unknown workload {workload!r}")
        d["doc_id"] = f"{workload}-{seed}-{i:06d}"
        d["html"] = "".join(c[1] for c in d["chunks"] if c[0] == "html")
        d["input_spans"] = input_spans(g.rng, d.pop("chunks"))
        docs.append(d)
    return docs


def anchor_page(target: int = 450 * KiB) -> str:
    """The per-core anchor page: one fixed, element-dense ~450 KB page
    (its seed never changes, so anchor figures form one series)."""
    g = Gen(0, "anchor")
    d = render(g, SectionPool(g, 32).page(g, target, False))
    return "".join(c[1] for c in d["chunks"] if c[0] == "html")
