"""CSS-to-DataFrame compiler: run selectors as Catalyst plans over the
exploded node table.

The kernel evaluates selectors per document (Collector semantics); this
module compiles the common selector subset into RELATIONAL operations over
``node_table_df`` output, so corpus-wide structural queries run fully
JVM-side with Catalyst doing predicate pushdown/join planning:

- simple selectors -> column predicates (tag/id/class/attr families)
- ``E F`` (descendant) -> preorder-interval range join
  (anc.node_id < d.node_id <= anc.subtree_end, per SURVEY §2.E "the closest
  thing the reference has to a join")
- ``E > F`` (child) -> equi-join on (doc_id, parent_id)
- ``E + F`` / ``E ~ F`` -> sibling joins on (doc_id, parent_id) with
  elem_sibling_index arithmetic
- positional pseudos (:first-child, :nth-child(an+b) incl. odd/even,
  :lt/:gt/:eq) -> index arithmetic on elem_sibling_index, with the
  kernel's document-parent/root guards (html is nobody's :first-child;
  the #root Document matches :eq(0) but never :lt)
- the counted positional family (round 5): :last-child /
  :nth-last-child(an+b) via a per-(doc, parent) element-count window;
  :first-of-type / :last-of-type / :nth-of-type / :nth-last-of-type /
  :only-of-type via per-(doc, parent, tag) count + running-position
  windows; :only-child; :empty via a per-parent content-child flag
  joined back from the child rows; :root as the document's first
  element child — windows/joins added lazily per query (_augment)
- ``:has(compound)`` -> subtree-interval LEFT-SEMI join against matching
  descendants; ``:not(compound)`` / ``:is(compound)`` -> null-safe negated /
  pass-through predicates

``:has`` compiles for structural inners too (round 5):

- ``:has(div p)`` -> three-way interval join: a descendant d matching the
  subject-pred, an ancestor a of d matching the outer pred, with a bounded
  to the subject's subtree-or-self (the kernel's Has walk stops at the
  subject root — StructuralEvaluator.kt:50-99); chains of ANY depth
  (``:has(a b c)``) fold the interval join per level, with one union
  branch per intermediate level for the subject-is-witness case (where
  the kernel's outer walk continues unbounded above the subject)
- ``:has(span > p)`` / ``:has(> p)`` / ``:has(> div > p)`` -> chained
  parent equi-joins; a Root-anchored chain pins its topmost parent to the
  subject's node_id
- ``:has(p + span)`` / ``:has(p ~ span)`` -> sibling-index witness join

With the opt-in text-view columns (node_table_df(text_columns=...)),
every text pseudo compiles: :contains/:containsOwn/:containsData (and
whole-text variants) as JVM substring predicates over the matching view
(elem_text / elem_own_text / elem_whole_text / elem_whole_own_text /
elem_data), :matches* as rlike (Java-regex find — the reference's own
dialect); :not(:has(sel)) compiles to an ANTI join on the :has witness
keys.

``:matchText`` compiles over the opt-in rewritten table
(node_table_df(match_text=True)): the PseudoTextElement pre-pass runs
inside the parse kernel and flags pseudo rows, so the pseudo itself is a
plain column predicate and every combinator/positional pseudo sees the
rewritten tree — the reference's own (mutating) semantics.  NOTE: a
match_text table answers EVERY selector against the rewritten tree;
route only :matchText queries to it.  Sibling-of-root :has forms
(``:has(~ p)``) compile to the kernel's never-match.

Nested ``:has`` (``:has(p:has(span))``) compiles by recursion — the
kernel's nested Has roots at the tested node, so it is
subject-independent; sibling-of-sibling chains (``:has(em ~ p + span)``)
compile via nested sibling digests; top-level ``:not(X)``/``:is(X)``
with combinators inside X compile as anti/semi joins against the
compiled X set.

Rooted :has runs with descendant tails (``:has(> p span)``,
``:has(> div p)``) compile via _RootPin spine levels: the rooted run's
topmost parent pins to the subject while the tail walks the interval.
A chain-tail subject carrying a :has/:not-set (``section > div:has(p)``)
semi-joins the tail against its own compiled set.

``:not(X)``/``:is(X)`` inside :has compiles whenever X is ctx-root-
INSENSITIVE — child/sibling links and compounds only (``p:not(a > p)``,
``p:not(em + p)``): no evaluator in X consults ctx.root, so the kernel's
per-node test equals global membership and an anti/semi-join against the
compiled X set is exact.

Subject-BOUNDED :not/:is DESCENDANT chains on the :has WITNESS
(``div:has(p:not(a p))``) also compile — the kernel binds the chain's
Ancestor walks to ctx.root = the :has subject (inclusive), so membership
is (subject, witness)-pair-dependent: _bounded_pair_sets builds the
subject×witness pair frame and folds the chain per pair, bounding 'anc'
links to the subject when the current node sits inside its subtree and
walking unbounded when it sits at/above it (the kernel's
walk-starts-above-root case).

Root-anchored child runs at the TOP level (``> div``, ``> html > body``,
``>p>strong,>li>strong``) compile too (round 5): at the corpus level
ctx.root is the Document (preorder id 0), so the Root level pins
``parent_id == 0``; non-rooted chain levels join ELEMENT rows only —
the kernel's walk nulls at a DOCUMENT parent (``* > html`` matches
nothing).  ``:has`` with a structural Or inner (``p:has(> span, > i)``)
compiles as the union of per-branch witness semi-joins — existence
distributes over the union.

``:lt`` inside STRUCTURAL :has inners compiles too (round 5): the kernel
binds IndexLessThan to ctx.root = the subject (el != root && index < n),
so wherever a tested node is provably NOT the subject (witnesses, pinned
chains, branch-A inner levels, outer/inner levels of the
subject-is-level-i branches, all sibling sets — a sibling can never be
the subject) the plain index predicate is exact, and the two places a
spine node CAN be the subject (the branch-A top, the level-i node of a
subject branch) evaluate the digest's at-subject variant, where every
:lt atom never-matches (:lt dies, :not(:lt) holds).  Unpinned pure
child chains carrying :lt route through the same branch set (the
witness's exact-ancestor path crosses the subject at exactly one level).

Unsupported pieces raise UnsupportedSelector — callers fall back to the
kernel path (operators.extract.select_elements_df), which covers
everything: subject-bounded :not/:is chains on a :has SPINE level or in
nested positions (sibling sets, recursion — no pair frame to bound
against), :root inside STRUCTURAL :has inners (subject-binding differs
per subject KIND), :lt inside a spine-level anti set or an outer spine
sibling set (subject-bound at a set-tested node), and :matchText over a
table built without the rewrite.  Sweep over the reference's own 287
harvested select() queries: 282 compile; the 5 remaining are Kotlin
``$i`` template strings, not selectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..kernel import selector as S

ELEMENT_KIND = 1
DOCUMENT_KIND = 0  # the Document IS an element (#root) in subject position


class UnsupportedSelector(ValueError):
    pass


# text pseudo -> (required text-view column, lowercase compare, is regex).
# Columns are opt-in via node_table_df(text_columns=...); a query whose
# table lacks the view falls back to the kernel path.
_TEXT_PSEUDOS = {
    S.ContainsText: ("elem_text", True, False),
    S.ContainsOwnText: ("elem_own_text", True, False),
    S.ContainsWholeText: ("elem_whole_text", False, False),
    S.ContainsWholeOwnText: ("elem_whole_own_text", False, False),
    S.ContainsData: ("elem_data", True, False),
    S.Matches: ("elem_text", False, True),
    S.MatchesOwn: ("elem_own_text", False, True),
    S.MatchesWholeText: ("elem_whole_text", False, True),
    S.MatchesWholeOwnText: ("elem_whole_own_text", False, True),
}


def _compound_predicate(ev, text_cols: frozenset = frozenset()) -> "F.Column":
    """Column predicate for a non-structural evaluator."""
    if isinstance(ev, S.And):
        pred = F.lit(True)
        for e in ev.evals:
            pred = pred & _compound_predicate(e, text_cols)
        return pred
    if isinstance(ev, S.Or):
        pred = F.lit(False)
        for e in ev.evals:
            pred = pred | _compound_predicate(e, text_cols)
        return pred
    if type(ev) in _TEXT_PSEUDOS:
        # text pseudos over the opt-in per-element text view columns.
        # :contains* args are pre-normalized (+lowered where the kernel
        # lowers) in the Evaluator ctor; the columns hold the kernel's own
        # text views, so substring tests are exact.  :matches* ride rlike —
        # Java-regex find(), the same dialect the reference itself uses
        # (and the same trade AttrValueMatching already makes below)
        name, lowered, pattern = _TEXT_PSEUDOS[type(ev)]
        if name not in text_cols:
            raise UnsupportedSelector(
                f"{type(ev).__name__} (node table lacks {name} — request it "
                "via node_table_df(text_columns=...))")
        col = F.coalesce(F.col(name), F.lit(""))
        if pattern:
            return col.rlike(ev.re.pattern)
        if lowered:
            col = F.lower(col)
        return col.contains(ev.text)
    if isinstance(ev, S.MatchText):
        # :matchText over the opt-in rewritten table
        # (node_table_df(match_text=True)): the prepare_match_text pre-pass
        # already ran inside the parse kernel, so the membership test the
        # kernel does (Evaluator.kt:809-840) is just the pseudo flag
        if "pseudo" not in text_cols:
            raise UnsupportedSelector(
                ":matchText (node table lacks the match_text rewrite — "
                "build it via node_table_df(match_text=True))")
        return F.coalesce(F.col("pseudo"), F.lit(0)) == 1
    if isinstance(ev, S.AllElements):
        return F.lit(True)
    if isinstance(ev, S.Tag):
        return F.lower(F.col("tag")) == ev.name
    if isinstance(ev, S.TagStartsWith):
        return F.lower(F.col("tag")).startswith(ev.prefix)
    if isinstance(ev, S.TagEndsWith):
        return F.lower(F.col("tag")).endswith(ev.suffix) | (
            F.lower(F.col("tag")) == ev.suffix.lstrip(":")
        )
    if isinstance(ev, S.Id):
        return F.col("attrs")["id"] == ev.ident
    if isinstance(ev, S.ClassEval):
        return F.array_contains(
            F.split(F.lower(F.coalesce(F.col("attrs")["class"], F.lit(""))),
                    r"\s+"),
            ev.cls,
        )
    if isinstance(ev, S.HasAttr):
        return F.array_contains(
            F.transform(F.map_keys("attrs"), lambda k: F.lower(k)), ev.key
        )
    if isinstance(ev, S.AttrStarting):
        return F.exists(
            F.map_keys("attrs"), lambda k: F.lower(k).startswith(ev.prefix)
        )
    if isinstance(ev, (S.AttrValue, S.AttrValueNot, S.AttrValueStarting,
                       S.AttrValueEnding, S.AttrValueContaining)):
        v = F.lower(F.trim(F.coalesce(F.col("attrs")[ev.key], F.lit(""))))
        raw = F.lower(F.coalesce(F.col("attrs")[ev.key], F.lit("")))
        has = F.array_contains(
            F.transform(F.map_keys("attrs"), lambda k: F.lower(k)), ev.key
        )
        if isinstance(ev, S.AttrValue):
            return has & (v == ev.value)
        if isinstance(ev, S.AttrValueNot):
            return ~has | (v != ev.value)
        if isinstance(ev, S.AttrValueStarting):
            return has & raw.startswith(ev.value)
        if isinstance(ev, S.AttrValueEnding):
            return has & raw.endswith(ev.value)
        return has & raw.contains(ev.value)
    if isinstance(ev, S.AttrValueMatching):
        return F.coalesce(F.col("attrs")[ev.key], F.lit("")).rlike(
            ev.re.pattern
        )
    if isinstance(ev, S.IsFirstChild):
        # kernel guard: no match when the parent is the Document (html) or
        # absent — parent_id 0 is the document row, -1 the document itself
        return (F.col("parent_id") > 0) & (F.col("elem_sibling_index") == 0)
    if isinstance(ev, S.IndexLessThan):
        # kernel: el != ctx.root — the #root Document (node 0) never matches
        return (F.col("node_id") > 0) & (F.col("elem_sibling_index") < ev.idx)
    if isinstance(ev, S.IndexGreaterThan):
        return F.col("elem_sibling_index") > ev.idx
    if isinstance(ev, S.IndexEquals):
        pred = F.col("elem_sibling_index") == ev.idx
        if ev.idx == 0:
            # kernel _elem_index of the #root Document is 0 (no parent)
            pred = pred | (F.col("node_id") == 0)
        return pred
    if isinstance(ev, S.IsNth):
        # nth-child family (Evaluator.kt:434-500) with the kernel's
        # document-parent guard.  pos sources:
        #   nth-child          -> elem_sibling_index + 1
        #   nth-last-child     -> _sib_count - elem_sibling_index
        #   nth-of-type        -> _type_pos (running same-tag count)
        #   nth-last-of-type   -> _type_count - _type_pos + 1
        # (window columns added by _augment only when the query needs them)
        guard = F.col("parent_id") > 0
        if ev.of_type:
            pos = (F.col("_type_count") - F.col("_type_pos") + 1
                   if ev.last else F.col("_type_pos"))
        else:
            pos = (F.col("_sib_count") - F.col("elem_sibling_index")
                   if ev.last else F.col("elem_sibling_index") + 1)
        if ev.a == 0:
            return guard & (pos == ev.b)
        # general a: (pos-b)*a >= 0 and a | (pos-b); remainder-is-zero is
        # sign-convention-independent, so Spark's Java-style % is safe
        return (guard
                & ((pos - ev.b) * ev.a >= 0)
                & ((pos - ev.b) % ev.a == 0))
    if isinstance(ev, S.IsLastChild):
        return ((F.col("parent_id") > 0)
                & (F.col("elem_sibling_index") == F.col("_sib_count") - 1))
    if isinstance(ev, S.IsOnlyChild):
        return (F.col("parent_id") > 0) & (F.col("_sib_count") == 1)
    if isinstance(ev, S.IsOnlyOfType):
        return (F.col("parent_id") > 0) & (F.col("_type_count") == 1)
    if isinstance(ev, S.IsRoot):
        # corpus queries always run with the Document as root, so :root is
        # html_el(): the FIRST element child of the document row
        return ((F.col("kind") == ELEMENT_KIND)
                & (F.col("parent_id") == 0)
                & (F.col("elem_sibling_index") == 0))
    if isinstance(ev, S.IsEmpty):
        # _nonempty joined in by _augment: any ELEMENT/CDATA child, or a
        # TEXT child with non-whitespace content (kernel IsEmpty)
        return ~F.coalesce(F.col("_nonempty"), F.lit(False))
    if isinstance(ev, S.Is):
        return _compound_predicate(ev.inner, text_cols)
    if isinstance(ev, S.Not):
        # null-safe negation: a NULL inner predicate (missing attr/map)
        # means "didn't match", so :not() must keep the row — Spark's
        # three-valued ~NULL would silently drop it
        return ~F.coalesce(_compound_predicate(ev.inner, text_cols), F.lit(False))
    raise UnsupportedSelector(type(ev).__name__)


def _split_structural(ev, text_cols: frozenset = frozenset()):
    """Decompose And(compound..., structural, :has/:not(:has)...) ->
    (compound pred, structural, [(has_ev, negated)], [(set_ev, negated)]).

    set_ev entries are :not(X) / :is(X) conjuncts whose X needs a full
    selector evaluation (it contains combinators or :has): at the top
    level the kernel evaluates X with the document as root, so the match
    set is exactly _compile_eval(X) — applied as an anti/semi join."""
    _STRUCT = (S.Ancestor, S.ImmediateParentRun, S.ImmediatePrevious,
               S.PreviousSibling)
    if isinstance(ev, S.And):
        structural, has_evals, plain = [], [], []
        for e in _flatten_and(ev):
            if isinstance(e, _STRUCT):
                structural.append(e)
            elif isinstance(e, S.Has):
                has_evals.append((e, False))
            elif isinstance(e, S.Not) and isinstance(e.inner, S.Has):
                has_evals.append((e.inner, True))
            else:
                plain.append(e)
        if len(structural) > 1:
            raise UnsupportedSelector("multiple structural conjuncts")
        preds, set_evals = [], []
        for e in plain:
            try:
                preds.append(_compound_predicate(e, text_cols))
            except UnsupportedSelector:
                if isinstance(e, S.Not):
                    set_evals.append((e.inner, True))
                elif isinstance(e, S.Is):
                    set_evals.append((e.inner, False))
                else:
                    raise
        pred = preds[0] if preds else F.lit(True)
        for p in preds[1:]:
            pred = pred & p
        return (pred, (structural[0] if structural else None), has_evals,
                set_evals)
    if isinstance(ev, _STRUCT):
        return F.lit(True), ev, [], []
    if isinstance(ev, S.Has):
        return F.lit(True), None, [(ev, False)], []
    if isinstance(ev, S.Not) and isinstance(ev.inner, S.Has):
        return F.lit(True), None, [(ev.inner, True)], []
    try:
        return _compound_predicate(ev, text_cols), None, [], []
    except UnsupportedSelector:
        if isinstance(ev, S.Not):
            return F.lit(True), None, [], [(ev.inner, True)]
        if isinstance(ev, S.Is):
            return F.lit(True), None, [], [(ev.inner, False)]
        raise


def _scan_needed(ev, out: set) -> set:
    """Walk the evaluator tree, collecting which derived columns the
    compiled predicates will reference (so _augment only pays for the
    windows/joins a query actually uses)."""
    if isinstance(ev, S.IsNth):
        if ev.of_type:
            out.add("type")
        elif ev.last:
            out.add("sib_count")
    elif isinstance(ev, (S.IsOnlyChild, S.IsLastChild)):
        out.add("sib_count")
    elif isinstance(ev, S.IsOnlyOfType):
        out.add("type")
    elif isinstance(ev, S.IsEmpty):
        out.add("empty")
    for attr in ("inner", "evals", "chain"):
        sub = getattr(ev, attr, None)
        if isinstance(sub, S.Evaluator):
            _scan_needed(sub, out)
        elif isinstance(sub, (list, tuple)):
            for e in sub:
                if isinstance(e, S.Evaluator):
                    _scan_needed(e, out)
    return out


# node kinds with content that disqualifies :empty (dom.py constants)
_TEXT_KIND = 2
_CDATA_KIND = 5
# kernel IsEmpty strips _WS + NBSP from text children
_NON_WS_RE = "[^ \\t\\n\\r\\f\\u00a0]"


def _augment(nodes: DataFrame, needed: set) -> DataFrame:
    """Attach the derived columns the query's predicates reference.

    sib_count/type are per-(doc, parent[, tag]) window aggregates — one
    Exchange each, pure JVM, and only siblings co-shuffle (bounded
    partitions at any corpus size).  empty is a per-parent existence
    flag joined back from the child rows."""
    is_elem = F.when(F.col("kind") == ELEMENT_KIND, F.lit(1))
    if "sib_count" in needed:
        w = Window.partitionBy("doc_id", "parent_id")
        nodes = nodes.withColumn("_sib_count", F.count(is_elem).over(w))
    if "type" in needed:
        wt = Window.partitionBy("doc_id", "parent_id", "tag")
        nodes = nodes.withColumn("_type_count", F.count(is_elem).over(wt))
        wp = wt.orderBy("sibling_index").rowsBetween(
            Window.unboundedPreceding, Window.currentRow)
        nodes = nodes.withColumn("_type_pos", F.count(is_elem).over(wp))
    if "empty" in needed:
        disq = (
            nodes.filter(
                (F.col("kind") == ELEMENT_KIND)
                | (F.col("kind") == _CDATA_KIND)
                | ((F.col("kind") == _TEXT_KIND)
                   & F.coalesce(F.col("text"), F.lit("")).rlike(_NON_WS_RE))
            )
            .select(F.col("doc_id").alias("_e_doc"),
                    F.col("parent_id").alias("_e_par"))
            .distinct()
            .withColumn("_nonempty", F.lit(True))
        )
        nodes = nodes.join(
            disq,
            (nodes["doc_id"] == disq["_e_doc"])
            & (nodes["node_id"] == disq["_e_par"]),
            "left",
        ).drop("_e_doc", "_e_par")
    return nodes


def compile_selector(nodes: DataFrame, css: str) -> DataFrame:
    """node table + CSS -> DataFrame of matched element rows.

    Catalyst sees only joins/filters/windows — whole-stage codegen end to
    end.  When the table carries text-view columns (node_table_df
    text_columns / include_elem_text), the text pseudos compile to JVM
    string/regex predicates too.
    """
    ev = S.parse_query(css)
    nodes = _augment(nodes, _scan_needed(ev, set()))
    avail = frozenset(
        c for c in ("elem_text", "elem_own_text", "elem_whole_text",
                    "elem_whole_own_text", "elem_data", "pseudo")
        if c in nodes.columns)
    return _compile_eval(nodes, ev, avail)


_STRUCT_T = (S.Ancestor, S.ImmediateParentRun, S.ImmediatePrevious,
             S.PreviousSibling)
# ctx-root-sensitive pseudos: the kernel binds them to ctx.root (the :has
# subject inside :has inners — IsRoot: el == root; IndexLessThan: el != root)
_CTXROOT_T = (S.IsRoot, S.IndexLessThan)


def _flatten_and(ev) -> list:
    if isinstance(ev, S.And):
        out = []
        for e in ev.evals:
            out.extend(_flatten_and(e))
        return out
    return [ev]


def _contains(ev, types, into_has: bool = False) -> bool:
    """Does the evaluator tree contain an instance of ``types``?  With
    into_has=False the walk stops at nested :has boundaries — a nested
    Has runs with its OWN root (Has.matches builds EvalCtx(doc, el)) and
    re-applies its own guards when compiled recursively."""
    if isinstance(ev, types):
        return True
    if not into_has and isinstance(ev, S.Has):
        return False
    for attr in ("inner", "evals", "chain"):
        sub = getattr(ev, attr, None)
        if isinstance(sub, (S.Evaluator, _Parent)):
            if _contains(sub, types, into_has):
                return True
        elif isinstance(sub, (list, tuple)):
            for e in sub:
                if isinstance(e, (S.Evaluator, _Parent)) and _contains(
                        e, types, into_has):
                    return True
    return False


def _interval_semi(out: DataFrame, w: DataFrame) -> DataFrame:
    """Keep subject rows with a witness (_w_doc, _w_d) in their STRICT
    subtree (anc.node_id < d <= anc.subtree_end) — the Has preorder loop
    skips the subject itself."""
    return out.join(
        w,
        (out["doc_id"] == w["_w_doc"])
        & (out["node_id"] < w["_w_d"])
        & (w["_w_d"] <= out["subtree_end"]),
        "left_semi",
    )


class _Parent:
    """Normalization marker: the node's EXACT parent matches ``inner``
    (one step of an ImmediateParentRun, StructuralEvaluator.kt:164-200).
    Unlike Ancestor it is never subject-bounded, but the walk dies on
    reaching the document — element-only join sets encode both."""

    def __init__(self, inner):
        self.inner = inner
        self.cost = getattr(inner, "cost", 1) + 1


class _RootPin:
    """Normalization marker for a Root-anchored run step: the node's EXACT
    parent IS the :has subject (the kernel's IPR walk tests Root at the
    parent — chain[0] is Root, selector.py ImmediateParentRun.matches).
    Root is outermost in its run, so a pin always lands on the TOPMOST
    spine level; the node is strictly below the subject, so no
    subject-is-intermediate-witness branch can coexist with it."""

    cost = 1


def _norm_spine(ev):
    """Rewrite ImmediateParentRun chains as nested _Parent steps so every
    structural link is a unary wrapper: run [a, b] (outermost-first) means
    'node matches b AND parent matches a' -> And(b, _Parent(a)); rooted
    runs [Root, a, b] pin the outermost level to the subject ->
    And(b, _Parent(And(a, _RootPin())))."""
    if isinstance(ev, S.ImmediateParentRun):
        chain = ev.chain
        if isinstance(chain[0], S.Root):
            if len(chain) < 2 or any(isinstance(e, S.Root)
                                     for e in chain[1:]):
                raise UnsupportedSelector(":has chain shape")
            cur = S.And([_norm_spine(chain[1]), _RootPin()])
            rest = chain[2:]
        else:
            if any(isinstance(e, S.Root) for e in chain):
                raise UnsupportedSelector(":has chain shape")
            cur = _norm_spine(chain[0])
            rest = chain[1:]
        for e in rest:
            cur = S.And([_norm_spine(e), _Parent(cur)])
        return cur
    if isinstance(ev, S.And):
        return S.And([_norm_spine(e) for e in ev.evals])
    if isinstance(ev, S.Ancestor):
        return S.Ancestor(_norm_spine(ev.inner))
    if isinstance(ev, (S.ImmediatePrevious, S.PreviousSibling)):
        return type(ev)(_norm_spine(ev.inner))
    return ev


class _Digest:
    """Compiled description of 'the element rows matching this compound':
    a column predicate, same-parent sibling constraints (each itself a
    digest), nested :has attachments (semi/anti), and :not-set anti
    digests.  Realized as a DataFrame by _mk_set."""

    __slots__ = ("pred", "sibs", "hases", "antis", "gsets", "bsets",
                 "pin_root", "own_lt", "pred_subj")

    def __init__(self, pred, sibs=(), hases=(), antis=(), gsets=(),
                 bsets=(), pin_root=False, own_lt=False, pred_subj=None):
        self.pred = pred
        self.sibs = list(sibs)
        self.hases = list(hases)
        self.antis = list(antis)
        self.gsets = list(gsets)
        self.bsets = list(bsets)
        self.pin_root = pin_root
        # :lt (IndexLessThan) in the level's own compound.  Inside :has
        # the kernel binds it to ctx.root = the SUBJECT (el != root &&
        # elem index < n) — pred is exact wherever the tested node is
        # provably NOT the subject; pred_subj is the el-==-subject variant
        # (every :lt atom never-matches, so ':lt' dies and ':not(:lt)'
        # holds, matching IndexLessThan.matches at el == ctx.root)
        self.own_lt = own_lt
        self.pred_subj = pred_subj


def _subst_lt_never(ev):
    """Rewrite every IndexLessThan atom to a never-matching one (index <
    -1): the at-subject predicate variant.  Pred parts are Has-free (Has
    conjuncts are peeled into digest attachments first), so the walk only
    needs the boolean combinators."""
    if isinstance(ev, S.IndexLessThan):
        return S.IndexLessThan(-1)
    if isinstance(ev, S.And):
        return S.And([_subst_lt_never(e) for e in ev.evals])
    if isinstance(ev, S.Or):
        return S.Or([_subst_lt_never(e) for e in ev.evals])
    if isinstance(ev, S.Is):
        return S.Is(_subst_lt_never(ev.inner))
    if isinstance(ev, S.Not):
        return S.Not(_subst_lt_never(ev.inner))
    return ev


def _subj_variant(dg: "_Digest") -> "_Digest":
    """Digest copy evaluating the compound at el == subject."""
    return _Digest(dg.pred_subj, dg.sibs, dg.hases, dg.antis, dg.gsets,
                   dg.bsets, dg.pin_root)


def _lt_deep(dg: "_Digest") -> bool:
    """:lt anywhere in the digest's sibling/anti attachments (recursive).
    gsets are ctx-root-insensitive by construction and nested :has
    rebinds ctx.root at the tested node, so neither can carry a
    subject-bound :lt."""
    for _, sdg in dg.sibs:
        if sdg.own_lt or _lt_deep(sdg):
            return True
    for adg in dg.antis:
        if adg.own_lt or _lt_deep(adg):
            return True
    return False


def _digest_level(ev, text_cols: frozenset):
    """One normalized spine-node evaluator -> (_Digest, continuation).

    The digest captures everything tested AT the node: the compound
    column predicate, ('+'|'~', digest) same-parent sibling constraints
    (nested sibling chains supported — the sibling set is itself a
    digest), nested :has/:not(:has) attachments (the kernel's nested Has
    roots at the TESTED node — Has.matches builds EvalCtx(doc, el) — so
    they are subject-independent and compile by recursion), and
    :not(compound-with-sets) anti digests.  continuation:
    ('anc'|'parent', inner) — the spine link ABOVE this node, or None.
    A sibling attachment whose inner carries a continuation LIFTS it onto
    this level: the sibling shares this node's parent, so its
    ancestor/parent walk visits exactly the same nodes (selector.py
    Ancestor.matches starts at doc.parent[el]); lifting cascades through
    nested sibling chains (all share the one parent)."""
    parts = _flatten_and(ev)
    preds, sibs, hases, antis, gsets, bsets, cont = \
        [], [], [], [], [], [], None
    preds_subj = []  # at-subject variants, parallel to preds
    pin = False

    def _set_cont(c):
        nonlocal cont
        if cont is not None:
            raise UnsupportedSelector(":has twin spine continuations")
        cont = c

    def _set_pin():
        nonlocal pin
        if pin:
            raise UnsupportedSelector(":has twin root pins")
        pin = True

    for e in parts:
        if isinstance(e, _RootPin):
            _set_pin()
        elif isinstance(e, (S.Ancestor, _Parent)):
            _set_cont(("anc" if isinstance(e, S.Ancestor) else "parent",
                       e.inner))
        elif isinstance(e, (S.ImmediatePrevious, S.PreviousSibling)):
            kind = "+" if isinstance(e, S.ImmediatePrevious) else "~"
            if isinstance(e.inner, S.Root):
                # sibling-of-root (':has(~ p)'): the Has loop only visits
                # descendants, never a sibling of the subject — kernel
                # never-match (StructuralEvaluator.kt:50-99).  Same object
                # into both lists: keeps them index-aligned and the
                # `p is s` own_lt probe False for this part
                never = F.lit(False)
                preds.append(never)
                preds_subj.append(never)
                continue
            sdg, scont = _digest_level(e.inner, text_cols)
            if scont is not None:
                _set_cont(scont)
            if sdg.pin_root:
                # pin LIFTS like a continuation: siblings share the parent,
                # so 'sibling is a child of the subject' pins this node too
                _set_pin()
                sdg.pin_root = False
            sibs.append((kind, sdg))
        elif isinstance(e, S.Has):
            hases.append((e, False))
        else:
            try:
                p = _compound_predicate(e, text_cols)
                ps = (_compound_predicate(_subst_lt_never(e), text_cols)
                      if _contains(e, (S.IndexLessThan,)) else p)
                preds.append(p)
                preds_subj.append(ps)
            except UnsupportedSelector:
                if not isinstance(e, (S.Not, S.Is)):
                    raise
                neg = isinstance(e, S.Not)
                if neg and isinstance(e.inner, S.Has):
                    hases.append((e.inner, True))
                    continue
                if neg:
                    try:
                        adg, acont = _digest_level(e.inner, text_cols)
                    except UnsupportedSelector:
                        adg, acont = None, None
                    if adg is not None and acont is None \
                            and not adg.pin_root:
                        antis.append(adg)
                        continue
                if not _contains(e.inner, _CTXROOT_T
                                 + (S.Ancestor, S.Root, _RootPin)):
                    # :not/:is over a ctx-root-INSENSITIVE chain (child /
                    # sibling links + compounds only, no Ancestor walk,
                    # no :root/:lt, no #root pin — kernel match results
                    # cannot depend on ctx.root; nested :has rebinds root
                    # at the tested node, so _contains stops there): the
                    # kernel's per-node test equals global membership —
                    # anti/semi-join the compiled selector set
                    gsets.append((e.inner, neg))
                    continue
                if not _contains(e.inner, _CTXROOT_T + (S.Root, _RootPin)):
                    # Ancestor walks inside :not/:is ARE subject-bounded
                    # inside :has (selector.py Ancestor.matches stops at
                    # ctx.root inclusive) — pair-dependent.  Record the
                    # raw chain; only the witness-only :has path can
                    # realize it (subject×witness pair frame,
                    # _bounded_pair_sets); everywhere else _mk_set raises
                    # and the query falls back to the kernel
                    bsets.append((e.inner, neg))
                    continue
                raise
    if pin and cont is not None:
        # a pinned node has the subject as parent — nothing sits above it
        raise UnsupportedSelector(":has pin below a spine continuation")
    pred = preds[0] if preds else F.lit(True)
    for p in preds[1:]:
        pred = pred & p
    own_lt = any(p is not s for p, s in zip(preds, preds_subj))
    pred_subj = None
    if own_lt:
        pred_subj = preds_subj[0]
        for p in preds_subj[1:]:
            pred_subj = pred_subj & p
    return _Digest(pred, sibs, hases, antis, gsets, bsets, pin,
                   own_lt=own_lt, pred_subj=pred_subj), cont


def _unroll_spine(cont, text_cols: frozenset):
    """Continuation above the witness -> (levels, links).

    levels[j] = _Digest for spine level j+1 (closest-to-witness first);
    links[j] connects level j to level j+1 (level 0 = witness): 'anc' =
    subject-bounded interval-ancestor (the descendant combinator),
    'parent' = exact-parent equi link (never subject-bounded)."""
    levels, links = [], []
    while cont is not None:
        link, inner = cont
        dg, cont = _digest_level(inner, text_cols)
        links.append(link)
        levels.append(dg)
    return levels, links


def _mk_set(nodes: DataFrame, elems: DataFrame, src: DataFrame,
            dg: _Digest, text_cols: frozenset) -> DataFrame:
    """Realize a digest over src rows: predicate filter, nested :has
    semi/anti joins (recursion through _apply_has — exact because the
    kernel's nested Has roots at the tested node), :not-set anti joins
    (built over the SAME src so document rows participate exactly as the
    kernel tests them), and previous-sibling semi-joins ('+' = nearest
    previous element via elem index - 1, '~' = any previous element;
    sibling sets are element-only, as in the kernel walk)."""
    if dg.bsets:
        # subject-bounded :not/:is chain anywhere but the witness-only
        # :has position (spine level, sibling set, nested recursion) —
        # no subject frame to bound against here
        raise UnsupportedSelector(
            "subject-bounded :not/:is chain in a nested position")
    s = src.filter(dg.pred)
    for h, neg in dg.hases:
        s = _apply_has(nodes, s, h, text_cols, neg)
    for adg in dg.antis:
        a = _mk_set(nodes, elems, src, adg, text_cols).select(
            F.col("doc_id").alias("_an_doc"),
            F.col("node_id").alias("_an_id"))
        s = s.join(
            a,
            (s["doc_id"] == a["_an_doc"]) & (s["node_id"] == a["_an_id"]),
            "left_anti")
    for gev, neg in dg.gsets:
        # ctx-root-insensitive :not/:is chain — global membership equals
        # the kernel's per-node test at any ctx.root (see _digest_level)
        g = _compile_eval(nodes, gev, text_cols).select(
            F.col("doc_id").alias("_gs_doc"),
            F.col("node_id").alias("_gs_id"))
        s = s.join(
            g,
            (s["doc_id"] == g["_gs_doc"]) & (s["node_id"] == g["_gs_id"]),
            "left_anti" if neg else "left_semi")
    for kind, sdg in dg.sibs:
        sib = _mk_set(nodes, elems, elems, sdg, text_cols).select(
            F.col("doc_id").alias("_sb_doc"),
            F.col("parent_id").alias("_sb_par"),
            F.col("elem_sibling_index").alias("_sb_si"))
        rel = (s["elem_sibling_index"] == sib["_sb_si"] + 1) if kind == "+" \
            else (s["elem_sibling_index"] > sib["_sb_si"])
        s = s.join(
            sib,
            (s["doc_id"] == sib["_sb_doc"])
            & (s["parent_id"] == sib["_sb_par"]) & rel,
            "left_semi",
        )
    return s


def _has_spine(nodes: DataFrame, elems: DataFrame, out: DataFrame,
               wset: DataFrame, levels, links,
               text_cols: frozenset = frozenset()) -> DataFrame:
    """':has' spine of arbitrary depth mixing descendant and child links
    (':has(a b c)', ':has(a > b c)', ':has(a b > c)', sibling-attached
    levels like ':has(a + b c)').

    The kernel evaluates the inner with the SUBJECT as root; each Ancestor
    walk from a witness stops at (and includes) the subject, while
    parent/sibling links are never subject-bounded
    (StructuralEvaluator.kt:50-200, selector.py Ancestor/ImmediateParentRun
    .matches).  Relational branches reproduce that exactly:

    - bounded chain: subject <= n_top < ... < n_1 < d <= subject.subtree_end
      (preorder ids; each 'anc' link an interval join, each 'parent' link a
      parent_id equi join).  The topmost node may BE the subject —
      including a Document subject when the top link is 'anc' (the kernel
      tests kind==ELEMENT or node==root); a 'parent' top link never tests
      the document (the run dies on reaching it), so its top set is
      element-only.  The node_id <= n_top pin keeps any document witness
      at the subject row itself.
    - subject-is-level-i (i < top): when an INTERMEDIATE spine node equals
      the subject, the kernel's next walk starts ABOVE the root and the
      break-at-root test never fires — the outer 'anc' links match
      unbounded ELEMENT ancestors strictly above the subject ('parent'
      links join the same either way).  One union branch per intermediate
      level: subject passes level i's pred+sibling set, the inner levels
      sit inside its subtree, the outer levels chain above it.  An 'anc'
      link INTO the subject admits a Document subject; a 'parent' link
      does not.
    """
    def _lvl(src, dg):
        return _mk_set(nodes, elems, src, dg, text_cols)

    def _fold_up(base: DataFrame, n: int) -> DataFrame:
        # attach, per witness row, spine levels 1..n (innermost-first);
        # `_cur`/`_cur_par` track the topmost node so far and its parent
        w = base
        for j in range(n):
            lv = _lvl(elems, levels[j]).select(
                F.col("doc_id").alias("_l_doc"),
                F.col("node_id").alias("_l_id"),
                F.col("parent_id").alias("_l_par"),
                F.col("subtree_end").alias("_l_end"))
            if links[j] == "anc":
                cond = ((w["_w_doc"] == lv["_l_doc"])
                        & (lv["_l_id"] < w["_cur"])
                        & (w["_cur"] <= lv["_l_end"]))
            else:
                cond = ((w["_w_doc"] == lv["_l_doc"])
                        & (lv["_l_id"] == w["_cur_par"]))
            w = w.join(lv, cond).select(
                "_w_doc", "_w_d",
                F.col("_l_id").alias("_cur"),
                F.col("_l_par").alias("_cur_par"))
        return w

    base = wset.select(
        "_w_doc", "_w_d",
        F.col("_w_d").alias("_cur"), F.col("_w_par").alias("_cur_par"))
    k = len(levels)

    # branch A: fully bounded chain, topmost node element-or-subject (a
    # PINNED top — rooted run ':has(> a b)' — is an element child of the
    # subject: the kernel tests Root at its parent, so the subject itself
    # and the document can never sit at a pinned level)
    pinned = levels[k - 1].pin_root
    if not pinned:
        # :lt in spine ATTACHMENTS needs per-branch care the digest pred
        # can't carry: a level's anti set tests the level node ITSELF
        # (subject-capable: top via branch A equality, others via the
        # subject-is-level-i branches), and sibling sets at levels above
        # the witness-adjacent one can sit strictly ABOVE the subject in
        # subject-branches, where a sibling can BE the subject.  (A
        # pinned chain sits strictly inside the subject's subtree with no
        # subject-branches, so plain preds stay exact there.)
        for j, lv in enumerate(levels):
            if any(adg.own_lt or _lt_deep(adg) for adg in lv.antis):
                raise UnsupportedSelector(
                    ":lt in a spine-level anti set is subject-bound")
            if j >= 1 and any(sdg.own_lt or _lt_deep(sdg)
                              for _, sdg in lv.sibs):
                raise UnsupportedSelector(
                    ":lt in an outer spine sibling set is subject-bound")
    w_low = _fold_up(base, k - 1)
    top_link = links[k - 1]
    top_src = nodes.filter(
        (F.col("kind") == ELEMENT_KIND) | (F.col("kind") == DOCUMENT_KIND)
    ) if top_link == "anc" and not pinned else elems
    # a top carrying :lt splits branch A: kernel IndexLessThan tests
    # el != ctx.root, so the top-==-subject pairing flips every :lt atom
    # to never-match (pred_subj) while strictly-below tops keep the plain
    # index predicate — (variant digest, subject comparison) per part
    lt_top = levels[k - 1].own_lt and not pinned
    tops = ([(levels[k - 1], "lt"), (_subj_variant(levels[k - 1]), "eq")]
            if lt_top else [(levels[k - 1], "le")])
    a_parts = []
    for dgv, cmp in tops:
        top = _lvl(top_src, dgv).select(
            F.col("doc_id").alias("_a_doc"),
            F.col("node_id").alias("_w_a"),
            F.col("subtree_end").alias("_a_end"),
            F.col("parent_id").alias("_a_par"),
        )
        if top_link == "anc":
            tcond = ((w_low["_w_doc"] == top["_a_doc"])
                     & (top["_w_a"] < w_low["_cur"])
                     & (w_low["_cur"] <= top["_a_end"]))
        else:
            tcond = ((w_low["_w_doc"] == top["_a_doc"])
                     & (top["_w_a"] == w_low["_cur_par"]))
        w = w_low.join(top, tcond).select(
            "_w_doc", "_w_a", "_w_d", F.col("_a_par").alias("_w_apar"))
        if pinned:
            # the pin (top's parent == subject) already places the whole
            # chain strictly inside the subject's subtree, and the subject
            # can never BE a spine node — single branch, node_id equality
            return out.join(
                w,
                (out["doc_id"] == w["_w_doc"])
                & (out["node_id"] == w["_w_apar"]),
                "left_semi",
            )
        scmp = (out["node_id"] < w["_w_a"] if cmp == "lt"
                else out["node_id"] == w["_w_a"] if cmp == "eq"
                else out["node_id"] <= w["_w_a"])
        a_parts.append(out.join(
            w,
            (out["doc_id"] == w["_w_doc"]) & scmp
            & (w["_w_d"] <= out["subtree_end"]),
            "left_semi",
        ))
    res = a_parts[0]
    for part in a_parts[1:]:
        res = res.unionByName(part)
    if len(a_parts) > 1:
        res = res.dropDuplicates(["doc_id", "node_id"])
    if k == 1:
        return res

    branches = [res]
    for i in range(1, k):  # subject is spine level i (1-based, i < k)
        link_in = links[i - 1]
        sub = out if link_in == "anc" else out.filter(
            F.col("kind") == ELEMENT_KIND)
        # the level-i node IS the subject here: evaluate its compound with
        # the at-subject :lt variant (plain :lt dies at el == ctx.root,
        # :not(:lt) holds); every other level sits strictly below (inner)
        # or strictly above (outer) the subject, where the plain index
        # predicate is the kernel's own test
        lv_i = (_subj_variant(levels[i - 1]) if levels[i - 1].own_lt
                else levels[i - 1])
        sub = _lvl(sub, lv_i)
        # inner levels 1..i-1 inside the subject's subtree, witness below
        wi = _fold_up(base, i - 1)
        if link_in == "anc":
            scond = ((sub["doc_id"] == wi["_w_doc"])
                     & (sub["node_id"] < wi["_cur"])
                     & (wi["_w_d"] <= sub["subtree_end"]))
        else:
            scond = ((sub["doc_id"] == wi["_w_doc"])
                     & (sub["node_id"] == wi["_cur_par"]))
        sub = sub.join(wi, scond, "left_semi")
        # outer levels i+1..k chained topmost-down: 'anc' links strictly
        # -above element ancestors, 'parent' links exact element parents
        oc = _lvl(elems, levels[k - 1]).select(
            F.col("doc_id").alias("_o_doc"),
            F.col("node_id").alias("_o_id"),
            F.col("subtree_end").alias("_o_end"))
        for m in range(k - 1, i, -1):  # join level m below level m+1
            nxt = _lvl(elems, levels[m - 1]).select(
                F.col("doc_id").alias("_n_doc"),
                F.col("node_id").alias("_n_id"),
                F.col("parent_id").alias("_n_par"),
                F.col("subtree_end").alias("_n_end"))
            if links[m] == "anc":
                ocond = ((nxt["_n_doc"] == oc["_o_doc"])
                         & (oc["_o_id"] < nxt["_n_id"])
                         & (nxt["_n_id"] <= oc["_o_end"]))
            else:
                ocond = ((nxt["_n_doc"] == oc["_o_doc"])
                         & (nxt["_n_par"] == oc["_o_id"]))
            oc = nxt.join(oc, ocond).select(
                F.col("_n_doc").alias("_o_doc"),
                F.col("_n_id").alias("_o_id"),
                F.col("_n_end").alias("_o_end"))
        if links[i] == "anc":
            fcond = ((sub["doc_id"] == oc["_o_doc"])
                     & (oc["_o_id"] < sub["node_id"])
                     & (sub["node_id"] <= oc["_o_end"]))
        else:
            fcond = ((sub["doc_id"] == oc["_o_doc"])
                     & (oc["_o_id"] == sub["parent_id"]))
        sub = sub.join(oc, fcond, "left_semi")
        branches.append(sub)
    merged = branches[0]
    for b in branches[1:]:
        merged = merged.unionByName(b)
    return merged.dropDuplicates(["doc_id", "node_id"])


def _apply_has(nodes: DataFrame, out: DataFrame, has_ev,
               text_cols: frozenset, negate: bool) -> DataFrame:
    """:has(sel) (semi) or :not(:has(sel)) (anti).  The anti form keeps
    subject rows with NO witness: compute the semi result's keys and
    anti-join them — correct for every inner shape, including the
    union-branch ancestor chains."""
    if not negate:
        return _has_semi_join(nodes, out, has_ev, text_cols)
    pos = _has_semi_join(nodes, out, has_ev, text_cols).select(
        F.col("doc_id").alias("_x_doc"), F.col("node_id").alias("_x_id"))
    return out.join(
        pos,
        (out["doc_id"] == pos["_x_doc"]) & (out["node_id"] == pos["_x_id"]),
        "left_anti",
    )


def _bounded_pair_sets(nodes: DataFrame, out: DataFrame, w: DataFrame,
                       bsets, text_cols: frozenset) -> DataFrame:
    """Witness-only ':has' whose witness carries subject-BOUNDED :not/:is
    chains (':has(p:not(a b))'): the kernel evaluates the :not inner with
    ctx.root = the :has SUBJECT, and Ancestor walks stop at (and include)
    the subject (selector.py Ancestor.matches) — so whether the chain
    matches at a witness depends on WHICH subject is asking.  Build the
    subject×witness pair frame (s < w <= s.subtree_end, the strict
    subtree the Has loop scans) and anti/semi-join each chain's fold:

    - level 0 (the chain's own subject-pred) tests the witness itself
    - each 'anc' link joins a STRICT ancestor x of the current node with
      x.node_id >= s — the walk stops at the subject inclusive; x must be
      an element OR the subject row itself (the kernel tests
      kind==ELEMENT or node==ctx.root, admitting a Document subject)
    - each 'parent' link joins the exact ELEMENT parent, UNBOUNDED — the
      kernel's ImmediateParentRun walk never tests root and dies on
      reaching the document (StructuralEvaluator.kt:164-200)

    :not chains anti-join the matched pair keys; :is chains semi-join.
    Per-doc pair frames and per-level interval joins — the same join
    class as _has_spine, no cross-doc blowup."""
    base = nodes.filter(
        (F.col("kind") == ELEMENT_KIND) | (F.col("kind") == DOCUMENT_KIND))
    elems = nodes.filter(F.col("kind") == ELEMENT_KIND)
    subj = out.select(
        F.col("doc_id").alias("_pa_doc"),
        F.col("node_id").alias("_pa_s"),
        F.col("subtree_end").alias("_pa_send"))
    wit = w.select(
        F.col("doc_id").alias("_pw_doc"),
        F.col("node_id").alias("_pa_w"),
        F.col("parent_id").alias("_pa_wpar"))
    pairs = subj.join(
        wit,
        (subj["_pa_doc"] == wit["_pw_doc"])
        & (subj["_pa_s"] < wit["_pa_w"])
        & (wit["_pa_w"] <= subj["_pa_send"]),
    ).drop("_pw_doc")
    surv = pairs
    for X, neg in bsets:
        xdg, xcont = _digest_level(_norm_spine(X), text_cols)
        if xdg.bsets or xdg.pin_root or xcont is None:
            raise UnsupportedSelector("nested subject-bounded chain")
        lvls, links = _unroll_spine(xcont, text_cols)
        if any(l.bsets or l.pin_root for l in lvls):
            raise UnsupportedSelector("nested subject-bounded chain")
        m0 = _mk_set(nodes, elems, base, xdg, text_cols).select(
            F.col("doc_id").alias("_b_doc"),
            F.col("node_id").alias("_b_id"))
        mm = pairs.join(
            m0,
            (pairs["_pa_doc"] == m0["_b_doc"])
            & (pairs["_pa_w"] == m0["_b_id"]),
            "left_semi",
        ).withColumn("_cur", F.col("_pa_w")) \
         .withColumn("_cur_par", F.col("_pa_wpar"))
        for ldg, link in zip(lvls, links):
            L = _mk_set(nodes, elems, base, ldg, text_cols).select(
                F.col("doc_id").alias("_b_doc"),
                F.col("node_id").alias("_b_id"),
                F.col("parent_id").alias("_b_par"),
                F.col("subtree_end").alias("_b_end"),
                F.col("kind").alias("_b_kind"))
            if link == "parent":
                cond = ((mm["_pa_doc"] == L["_b_doc"])
                        & (L["_b_id"] == mm["_cur_par"])
                        & (L["_b_kind"] == ELEMENT_KIND))
            else:
                # two regimes in one condition: current node strictly
                # inside the subject's subtree (_cur > s) -> the walk
                # passes through and STOPS AT the subject (x >= s, element
                # or the subject row itself — kind==ELEMENT or node==root);
                # current node AT or ABOVE the subject (_cur <= s, the
                # subject-is-on-the-path case or a parent link that jumped
                # past it) -> the walk starts above ctx.root, the break
                # never fires, unbounded ELEMENT ancestors
                bounded = ((mm["_cur"] > mm["_pa_s"])
                           & (L["_b_id"] >= mm["_pa_s"])
                           & ((L["_b_kind"] == ELEMENT_KIND)
                              | (L["_b_id"] == mm["_pa_s"])))
                unbounded = ((mm["_cur"] <= mm["_pa_s"])
                             & (L["_b_kind"] == ELEMENT_KIND))
                cond = ((mm["_pa_doc"] == L["_b_doc"])
                        & (L["_b_id"] < mm["_cur"])
                        & (mm["_cur"] <= L["_b_end"])
                        & (bounded | unbounded))
            mm = (mm.join(L, cond, "inner")
                    .drop("_cur", "_cur_par", "_b_doc", "_b_end", "_b_kind")
                    .withColumnRenamed("_b_id", "_cur")
                    .withColumnRenamed("_b_par", "_cur_par"))
        keys = mm.select(
            F.col("_pa_doc").alias("_bk_doc"),
            F.col("_pa_s").alias("_bk_s"),
            F.col("_pa_w").alias("_bk_w")).distinct()
        surv = surv.join(
            keys,
            (surv["_pa_doc"] == keys["_bk_doc"])
            & (surv["_pa_s"] == keys["_bk_s"])
            & (surv["_pa_w"] == keys["_bk_w"]),
            "left_anti" if neg else "left_semi")
    good = surv.select(
        F.col("_pa_doc").alias("_g_doc"), F.col("_pa_s").alias("_g_id"))
    return out.join(
        good,
        (out["doc_id"] == good["_g_doc"])
        & (out["node_id"] == good["_g_id"]),
        "left_semi")


def _has_semi_join(nodes: DataFrame, out: DataFrame, has_ev,
                   text_cols: frozenset = frozenset()) -> DataFrame:
    """:has(sel) as subtree-interval LEFT-SEMI joins — the reference's Has
    semantics (select/StructuralEvaluator.kt:50-99) relationally, staying
    pure-JVM for corpus-wide node-table queries.

    Compiled inner shapes:
    - compound: witness = matching elements; strict-subtree semi-join
    - ``div p`` (Ancestor): the kernel evaluates the inner with the SUBJECT
      as root, so the ancestor walk from the candidate stops at (and
      includes) the subject — witness = (a, d) pairs with a an ancestor of
      d; semi-join pins subject.node_id <= a and d <= subject.subtree_end,
      bounding a to the subject's subtree-or-self
    - ``span > p`` / ``> p`` chains: chained parent equi-joins; the kernel's
      ImmediateParentRun walk is NOT root-bounded (parents above the
      subject can match), so non-rooted chains are subject-independent;
      a Root anchor pins the topmost parent to the subject's node_id
    - ``p + span`` / ``p ~ span``: sibling-index witness joins (element-only
      sibling index; also subject-independent in the kernel)
    - MIXED spines (':has(a > b c)', ':has(a b > c)', ':has(a + b c)',
      any depth): _has_spine — interval joins for the subject-bounded
      descendant links, parent equi joins for child links, sibling
      semi-joins per level
    - nested ':has' / ':not(:has ...)' at ANY position (witness, spine
      level, sibling, chain entry): the kernel's nested Has roots at the
      TESTED node (Has.matches builds EvalCtx(doc, el)), so it is
      subject-independent and compiles by recursion through _mk_set
    - sibling-of-sibling chains (':has(em ~ p + span)') via nested
      sibling digests; ':not(compound + sib / :has ...)' via anti-sets
    - ':not(X)'/':is(X)' at any digest level where X is a ctx-root-
      INSENSITIVE chain (child/sibling links + compounds, e.g.
      ':has(p:not(a > p))'): global anti/semi-join on _compile_eval(X) —
      exact because no evaluator in X consults ctx.root
    - subject-BOUNDED :not/:is descendant chains on the WITNESS
      (':has(p:not(a p))'): pair-aware anti/semi over the
      subject×witness frame (_bounded_pair_sets)

    - rooted runs at ANY spine position (':has(> p)', ':has(> a > b)',
      ':has(> a b)', ':has(> a + b)'): the Root anchor normalizes to a
      _RootPin on the topmost level — parent-of-top == subject equi join,
      single branch (the subject can never BE a pinned spine node)

    Sibling-of-root forms (':has(~ p)') compile to the kernel's
    never-match.  ':lt' in structural inners compiles via per-branch
    digest variants (see the module docstring): plain preds wherever the
    tested node is provably not the subject, the at-subject never-match
    variant at the branch-A top and subject-is-level-i nodes.  The
    remaining UnsupportedSelector shapes fall back to the kernel path:
    subject-bounded :not/:is chains on SPINE levels or nested positions
    (witness-level ones compile via _bounded_pair_sets), rooted runs
    inside :not, ':root' in STRUCTURAL inners (IsRoot maps a Document
    ctx.root to the html element, so subject-coincidence differs per
    subject KIND), and ':lt' inside a spine-level anti set or an outer
    spine sibling set (subject-bound at a set-tested node).  In plain
    (witness-only) inners ctx-root pseudos provably coincide with the
    global compile — witnesses are strict descendants of the subject —
    so those stay compiled."""
    inner = has_ev.inner
    if isinstance(inner, S.Or) and _contains(inner, _STRUCT_T + (S.Has,)):
        # ':has(> span, > i)' / ':has(a, b:has(c))': existence distributes
        # over the union — exists w (A or B) == (exists w A) or
        # (exists w B) — so the subject set is the union of per-branch
        # semi-joins; each branch re-enters this dispatch and keeps its
        # own supported/guard rules.  Purely-compound Ors stay a single
        # predicate pass below (cheaper than N semi-joins)
        pos = None
        for branch in inner.evals:
            part = _has_semi_join(nodes, out, S.Has(branch, has_ev.relative_root),
                                  text_cols)
            pos = part if pos is None else pos.unionByName(part)
        return pos.dropDuplicates(["doc_id", "node_id"])
    elems = nodes.filter(F.col("kind") == ELEMENT_KIND)
    conjs = _flatten_and(inner)
    structs = [e for e in conjs if isinstance(e, _STRUCT_T)]
    if len(structs) > 1:
        raise UnsupportedSelector(":has with multiple structural conjuncts")
    if _contains(inner, _STRUCT_T) and _contains(inner, (S.IsRoot,)):
        # :root maps a DOCUMENT ctx.root to the html element (IsRoot
        # .matches), so its subject-coincidence analysis differs per
        # subject KIND — still kernel-path-served
        raise UnsupportedSelector(
            ":root inside a structural :has inner is subject-bound")

    dg, cont = _digest_level(_norm_spine(inner), text_cols)
    if dg.bsets:
        if cont is not None or dg.pin_root:
            # a bounded chain on a spine node: intermediate-witness union
            # branches put spine nodes ABOVE the subject where the walk
            # is unbounded — pair semantics differ per branch
            raise UnsupportedSelector(
                "subject-bounded :not/:is chain on a :has spine level")
        bsets, dg.bsets = dg.bsets, []
        w = _mk_set(nodes, elems, elems, dg, text_cols)
        return _bounded_pair_sets(nodes, out, w, bsets, text_cols)
    w = _mk_set(nodes, elems, elems, dg, text_cols)
    wset = w.select(
        F.col("doc_id").alias("_w_doc"), F.col("node_id").alias("_w_d"),
        F.col("parent_id").alias("_w_par"))
    if cont is None:
        if dg.pin_root:
            # ':has(> p)' (or a pin lifted from ':has(> a + b)'): the
            # witness's parent IS the subject — node_id equality, which
            # serves a Document subject too
            return out.join(
                wset,
                (out["doc_id"] == wset["_w_doc"])
                & (out["node_id"] == wset["_w_par"]),
                "left_semi",
            )
        return _interval_semi(out, wset.select("_w_doc", "_w_d"))
    levels, links = _unroll_spine(cont, text_cols)
    if all(link == "parent" for link in links):
        if not levels[-1].pin_root and any(
                l.own_lt or _lt_deep(l) for l in levels):
            # an unpinned pure child chain's level can BE the subject —
            # the witness's exact-ancestor path passes through it — where
            # the kernel flips :lt to never-match.  _has_spine's branch
            # set covers consecutive-parent chains exhaustively (branch A
            # = whole chain inside the subtree, subject-is-level-i = the
            # path crossing the subject at level i), so route there for
            # the per-branch pred/pred_subj split
            return _has_spine(nodes, elems, out, wset, levels, links,
                              text_cols)
        # pure child chain: the kernel's ImmediateParentRun walk is never
        # subject-bounded (no root test, StructuralEvaluator.kt:164-200) —
        # fold unbounded parent equi-joins; pin the topmost parent to the
        # subject for rooted runs (':has(> a > b)'), else interval-pin the
        # witness only
        w2 = wset.withColumnRenamed("_w_par", "_w_up")
        for ldg in levels:
            par = _mk_set(nodes, elems, elems, ldg, text_cols).select(
                F.col("doc_id").alias("_p_doc"),
                F.col("node_id").alias("_p_id"),
                F.col("parent_id").alias("_p_up"))
            w2 = (
                w2.join(par, (w2["_w_doc"] == par["_p_doc"])
                        & (w2["_w_up"] == par["_p_id"]))
                .select("_w_doc", "_w_d", F.col("_p_up").alias("_w_up"))
            )
        if levels[-1].pin_root:
            return out.join(
                w2,
                (out["doc_id"] == w2["_w_doc"])
                & (out["node_id"] == w2["_w_up"]),
                "left_semi",
            )
        return _interval_semi(out, w2.select("_w_doc", "_w_d"))
    return _has_spine(nodes, elems, out, wset, levels, links, text_cols)


def _compile_eval(nodes: DataFrame, ev, text_cols: frozenset = frozenset()) -> DataFrame:
    # document rows participate as #root elements (kernel select() parity:
    # the reference's Document extends Element, so tagless predicates match
    # it — SelectorTest.testAllElements counts select("*") = elements + 1)
    elements = nodes.filter(
        (F.col("kind") == ELEMENT_KIND) | (F.col("kind") == DOCUMENT_KIND))
    if isinstance(ev, S.Or):
        out = None
        for sub in ev.evals:
            part = _compile_eval(nodes, sub, text_cols)
            out = part if out is None else out.unionByName(part)
        return out.dropDuplicates(["doc_id", "node_id"])
    pred, structural, has_evals, set_evals = _split_structural(ev, text_cols)
    subject = elements.filter(pred)
    for se, neg in set_evals:
        # top-level :not(X)/:is(X) with combinators or :has inside X: the
        # kernel evaluates X with the document as root, so the match set
        # is exactly the compiled selector — anti/semi join on node keys
        m = _compile_eval(nodes, se, text_cols).select(
            F.col("doc_id").alias("_se_doc"),
            F.col("node_id").alias("_se_id"))
        subject = subject.join(
            m,
            (subject["doc_id"] == m["_se_doc"])
            & (subject["node_id"] == m["_se_id"]),
            "left_anti" if neg else "left_semi",
        )
    if structural is None:
        out = subject
        for h, neg in has_evals:
            out = _apply_has(nodes, out, h, text_cols, neg)
        return out
    if has_evals:
        # apply :has to the subject side first (semi/anti keeps columns),
        # then the structural join below proceeds unchanged
        for h, neg in has_evals:
            subject = _apply_has(nodes, subject, h, text_cols, neg)
    if isinstance(ev := structural, S.Ancestor):
        anc = _compile_eval(nodes, ev.inner, text_cols).select(
            "doc_id",
            F.col("node_id").alias("_anc_id"),
            F.col("subtree_end").alias("_anc_end"),
        )
        return (
            subject.join(anc, "doc_id")
            .filter((F.col("node_id") > F.col("_anc_id"))
                    & (F.col("node_id") <= F.col("_anc_end")))
            .drop("_anc_id", "_anc_end")
            .dropDuplicates(["doc_id", "node_id"])
        )
    if isinstance(ev, S.ImmediateParentRun):
        # chain outermost-first; subject matches the last entry.  `_up`
        # walks the ancestor ids one level per join (the subject's parent,
        # then ITS parent, ...) — each level must match the corresponding
        # chain entry, not the subject's own parent again
        out = subject.withColumn("_up", F.col("parent_id"))
        chain = ev.chain
        for parent_ev in reversed(chain[:-1]):
            if isinstance(parent_ev, S.Root):
                # root-anchored run ('> div', '> html > body'): the kernel
                # keeps walking through a DOCUMENT parent only when
                # chain[0] is Root, then tests node == ctx.root — at the
                # corpus level ctx.root IS the Document (preorder id 0).
                # Root never parses anywhere but chain[0].
                if parent_ev is not chain[0]:
                    raise UnsupportedSelector("non-leading Root in run")
                out = out.filter(F.col("_up") == 0)
                continue
            # parent levels are ELEMENT-only: the kernel's walk sets
            # node = -1 on reaching a DOCUMENT parent (non-rooted chains
            # die there; rooted chains that consume the document on a
            # middle entry then fail Root at -1), so the Document row
            # must not satisfy any chain entry ('* > html' matches nothing)
            par = _compile_eval(nodes, parent_ev, text_cols).filter(
                F.col("kind") == ELEMENT_KIND
            ).select(
                F.col("doc_id").alias("_p_doc"),
                F.col("node_id").alias("_p_id"),
                F.col("parent_id").alias("_p_up"),
            )
            out = (
                out.join(
                    par,
                    (out["doc_id"] == par["_p_doc"])
                    & (out["_up"] == par["_p_id"]),
                )
                .drop("_p_doc", "_p_id", "_up")
                .withColumnRenamed("_p_up", "_up")
            )
        # subject predicate: the final chain entry — a pure compound stays
        # a filter; entries carrying :has/:not-sets ('section > div:has(p)')
        # semi-join against their compiled set
        out = out.drop("_up")
        try:
            out = out.filter(_compound_predicate(chain[-1], text_cols))
        except UnsupportedSelector:
            m = _compile_eval(nodes, chain[-1], text_cols).select(
                F.col("doc_id").alias("_ce_doc"),
                F.col("node_id").alias("_ce_id"))
            out = out.join(
                m,
                (out["doc_id"] == m["_ce_doc"])
                & (out["node_id"] == m["_ce_id"]),
                "left_semi",
            )
        return out.dropDuplicates(["doc_id", "node_id"])
    if isinstance(ev, (S.ImmediatePrevious, S.PreviousSibling)):
        prev = _compile_eval(nodes, ev.inner, text_cols).select(
            F.col("doc_id").alias("_s_doc"),
            F.col("parent_id").alias("_sp"),
            F.col("elem_sibling_index").alias("_si"),
        )
        cond = (
            (subject["doc_id"] == prev["_s_doc"])
            & (subject["parent_id"] == prev["_sp"])
        )
        if isinstance(ev, S.ImmediatePrevious):
            cond = cond & (subject["elem_sibling_index"] == prev["_si"] + 1)
        else:
            cond = cond & (subject["elem_sibling_index"] > prev["_si"])
        return (
            subject.join(prev, cond)
            .drop("_s_doc", "_sp", "_si")
            .dropDuplicates(["doc_id", "node_id"])
        )
    raise UnsupportedSelector(type(structural).__name__)
