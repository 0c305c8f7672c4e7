"""Static tag-flag tables (HTML semantics).

Mirrors the semantics of the reference's interned Tag registry
(/root/reference/ksoup/src/com/fleeksoft/ksoup/parser/Tag.kt:205-250):
block vs inline, void ("empty") elements, whitespace-preserving tags,
format-as-block. Unknown tags are non-block "go anywhere" tags
(Tag.kt:174-177).

Kept as plain frozensets — broadcast to executors implicitly via the
shipped module; lookups are O(1) set membership inside the Arrow kernel.
"""

from __future__ import annotations

BLOCK_TAGS = frozenset(
    """html head body frameset script noscript style meta link title frame
    noframes section nav aside hgroup header footer p h1 h2 h3 h4 h5 h6
    ul ol pre div blockquote hr address figure figcaption form fieldset ins
    del dl dt dd li table caption thead tfoot tbody colgroup col tr th
    td video audio canvas details menu plaintext template article main
    svg math center dir applet marquee listing button output""".split()
)
# NOTE: button/output are not in the reference's blockTags array, but its
# registry creates them via later setup lists (formatAsInlineTags /
# formListedTags) with the default isBlock=true (Tag.kt:31,264-290) — so they
# behave as block in text() boundary-space rules (buttonTextHasSpace test).

INLINE_TAGS = frozenset(
    """object base font tt i b u big small em strong dfn code samp kbd
    var cite abbr time acronym mark ruby rt rp rtc a img br wbr map q
    sub sup bdo iframe embed span input select textarea label optgroup
    option legend datalist keygen output progress meter area param source track
    summary command device basefont bgsound menuitem
    data bdi s strike nobr rb text mi mo msup mn mtext""".split()
)

# Void elements: no children, self-closing in effect (Tag.kt:231-234).
VOID_TAGS = frozenset(
    """meta link base frame img br wbr embed hr input keygen col command
    device area basefont bgsound menuitem param source track""".split()
)

# Tags not format-as-block even though block (Tag.kt:237-240).
FORMAT_AS_INLINE = frozenset(
    """title a p h1 h2 h3 h4 h5 h6 pre address li th td script style
    ins del s button""".split()
)

# Whitespace preserved inside these (Tag.kt:241-244); script/style content
# is a DataNode so preserves by construction.
PRESERVE_WS_TAGS = frozenset(["pre", "plaintext", "title", "textarea"])

FORM_LISTED = frozenset(
    ["button", "fieldset", "input", "keygen", "object", "output", "select", "textarea"]
)
FORM_SUBMIT = frozenset(
    ["input", "keygen", "object", "select", "textarea", "button"]
)

# Known tags = block ∪ inline; anything else is an unknown inline tag.
KNOWN_TAGS = BLOCK_TAGS | INLINE_TAGS


def is_block(name: str) -> bool:
    return name in BLOCK_TAGS


def format_as_block(name: str) -> bool:
    # Element.text() tail rule uses tag.formatAsBlock (Element.kt:1339-1349):
    # block tags that are NOT in the format-as-inline list.
    return name in BLOCK_TAGS and name not in FORMAT_AS_INLINE


# ---------------------------------------------------------------------------
# Tree-construction spec sets (shared by treebuilder.py and the C engine's
# generated tag-flag table; single source of truth).
# ---------------------------------------------------------------------------

FORMATTING_TAGS = frozenset(
    "a b big code em font i nobr s small strike strong tt u".split()
)

# The spec's "special" element categories (used by anyOtherEndTag & li/dd/dt).
SPECIAL_TAGS = frozenset(
    """address applet area article aside base basefont bgsound blockquote body
    br button caption center col colgroup dd details dir div dl dt embed
    fieldset figcaption figure footer form frame frameset h1 h2 h3 h4 h5 h6
    head header hgroup hr html iframe img input isindex li link listing main
    marquee menu meta nav noembed noframes noscript object ol p param
    plaintext pre script section select source style summary table tbody td
    template textarea tfoot th thead title tr track ul wbr xmp
    mi mo mn ms mtext annotation-xml foreignObject desc""".split()
)

IN_SCOPE_BASE = frozenset(
    "applet caption html marquee object table td th template".split()
)
BUTTON_SCOPE_BOUND = IN_SCOPE_BASE | frozenset(["button"])
LIST_SCOPE_BOUND = IN_SCOPE_BASE | frozenset(["ol", "ul"])
TABLE_SCOPE = frozenset(["html", "table", "template"])

IMPLIED_END = frozenset("dd dt li optgroup option p rb rp rt rtc".split())
IMPLIED_END_THOROUGH = IMPLIED_END | frozenset(
    "caption colgroup tbody td tfoot th thead tr".split()
)

P_CLOSERS = frozenset(
    """address article aside blockquote center details dialog dir div dl
    fieldset figcaption figure footer header hgroup main menu nav ol p
    section summary ul xmp listing pre""".split()
)
HEADINGS = frozenset(["h1", "h2", "h3", "h4", "h5", "h6"])

TABLE_SECTION_STARTS = frozenset((
    "caption", "col", "colgroup", "tbody", "td", "tfoot", "th", "thead",
    "tr"))

# every tag with a dedicated InBody start-tag rule; others take the generic
# reconstruct+insert fast path
INBODY_SPECIAL_START = frozenset(
    "a p form li dd dt plaintext button table hr image isindex textarea xmp iframe "
    "noembed select optgroup option rp rt math svg html body frameset "
    "head noframes area br embed img keygen wbr input param source track "
    "caption col colgroup frame tbody td tfoot th thead tr pre listing "
    "base basefont bgsound command link meta noscript script style title "
    "template".split()
) | FORMATTING_TAGS | P_CLOSERS | HEADINGS
