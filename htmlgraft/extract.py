"""Main-content extraction: tag/text-density scoring over the parsed tree.

The reference parser has no boilerplate-stripping stage (SURVEY.md §2C); this
module *defines* the deterministic extraction operator used by both the
fixture pipeline (applied to reference-parsed trees) and the Spark job
(applied to htmlgraft-parsed trees).  Byte-identity of extracted text per url
is anchored by (a) byte-identical trees and (b) this single implementation.

Algorithm (all constants fixed here):
1. Walk the tree (event stream) skipping ``SKIP_TAGS`` subtrees entirely.
2. For every element compute subtree stats: visible text length, element
   count, link-text length (text under <a>).
3. Score candidate containers (``CANDIDATE_TAGS``):
       score = text_len / (1 + tag_count) * (1 - link_density)^2 * ln(1 + text_len)
   link_density = link_text_len / text_len (0 when no text).  The ln(text)
   mass factor keeps a tiny-but-dense cell (e.g. a lone <td>) from beating a
   substantial content container.
4. Winner = highest score; ties broken by first close (post-order).
   Fallback: <body>, else the document root.
5. Render the winner subtree's text: DATA concatenated, a newline at every
   ``BLOCK_TAGS`` boundary; then per line: collapse [\\t\\n\\r\\f ]+ runs to a
   single space, strip, drop empty lines, join with '\\n'.
"""

from __future__ import annotations

import re
from math import log

from .walk import COMMENT, DATA, DOCTYPE, END, START, traverse

SKIP_TAGS = frozenset(
    """script style noscript template head nav header footer aside form
    iframe noembed noframes title textarea select option optgroup datalist
    svg math frameset frame""".split()
)

BLOCK_TAGS = frozenset(
    """address article aside blockquote body button caption center col
    colgroup dd details dialog dir div dl dt fieldset figcaption figure
    footer form h1 h2 h3 h4 h5 h6 header hgroup hr html li listing main menu
    nav ol p plaintext pre section summary table tbody td tfoot th thead tr
    ul br""".split()
)

CANDIDATE_TAGS = frozenset(
    """body div article main section td blockquote center""".split()
)

_SPACE_RUN = re.compile("  +")


def _normalize_text(raw: str) -> str:
    """Per line of ``raw``: collapse [\\t\\r\\f ]+ runs to one space, strip,
    drop empty lines; join with '\\n'.  Works on the whole string with C-level
    ``str`` operations; a ``[\\t\\r\\f ]+`` regex would match every single
    space between words, which dominates extraction on long texts."""
    if "\t" in raw:
        raw = raw.replace("\t", " ")
    if "\r" in raw:
        raw = raw.replace("\r", " ")
    if "\f" in raw:
        raw = raw.replace("\f", " ")
    if "  " in raw:
        raw = _SPACE_RUN.sub(" ", raw)
    return "\n".join(filter(None, map(str.strip, raw.split("\n"))))


# precomputed two-space indents for the dom printer (depth > 255 falls back
# to the multiply; real pages nest far shallower)
_INDENTS = tuple("  " * i for i in range(256))


def _indent(depth: int) -> str:
    return _INDENTS[depth] if depth < 256 else "  " * depth


class _Frame:
    __slots__ = ("name", "order", "text_len", "tag_count", "link_len", "skip",
                 "in_link")

    def __init__(self, name, order, skip, in_link):
        self.name = name
        self.order = order
        self.text_len = 0
        self.tag_count = 0
        self.link_len = 0
        self.skip = skip
        self.in_link = in_link


def _score_pass(events):
    """Yields (order, name, score) for candidate elements, in document order."""
    stack = [_Frame("#root", -1, False, False)]
    order = 0
    candidates = []
    for ev in events:
        kind = ev[0]
        if kind == START:
            name = ev[1]
            parent = stack[-1]
            skip = parent.skip or name in SKIP_TAGS
            in_link = parent.in_link or name == "a"
            stack.append(_Frame(name, order, skip, in_link))
            order += 1
        elif kind == END:
            f = stack.pop()
            parent = stack[-1]
            if not f.skip:
                parent.tag_count += f.tag_count + 1
                parent.text_len += f.text_len
                parent.link_len += f.link_len
                if f.name in CANDIDATE_TAGS:
                    if f.text_len > 0:
                        density = f.text_len / (1 + f.tag_count)
                        link_density = f.link_len / f.text_len
                        score = (
                            density
                            * (1.0 - link_density) ** 2
                            * log(1 + f.text_len)
                        )
                    else:
                        score = 0.0
                    candidates.append((f.order, f.name, score))
        elif kind == DATA:
            top = stack[-1]
            if not top.skip:
                n = len(ev[1])
                top.text_len += n
                if top.in_link:
                    top.link_len += n
    return candidates, order


def _render_pass(events, target_order):
    """Render visible text of the element with pre-order index target_order
    (None = whole document)."""
    parts = []
    depth_in_target = 0 if target_order is None else -1
    skip_depth = 0
    order = 0
    for ev in events:
        kind = ev[0]
        if kind == START:
            name = ev[1]
            this_order = order
            order += 1
            if skip_depth:
                skip_depth += 1
                continue
            if depth_in_target < 0:
                if this_order == target_order:
                    depth_in_target = 0
                else:
                    continue
            if name in SKIP_TAGS and depth_in_target > 0:
                skip_depth = 1
                continue
            depth_in_target += 1
            if name in BLOCK_TAGS:
                parts.append("\n")
        elif kind == END:
            if skip_depth:
                skip_depth -= 1
                continue
            if depth_in_target <= 0:
                continue
            depth_in_target -= 1
            if ev[1] in BLOCK_TAGS:
                parts.append("\n")
            if depth_in_target == 0 and target_order is not None:
                break
        elif kind == DATA:
            if depth_in_target >= 0 and not skip_depth:
                if depth_in_target > 0 or target_order is None:
                    parts.append(ev[1])
    return _normalize_text("".join(parts))


def extract_main_text(root) -> str:
    """Extract main text from an htmlgraft DOM (Document or Element)."""
    return extract_from_events(lambda: traverse(root))


def analyze_tree(root, include_dom: bool = True):
    """Fused single-walk pipeline core: computes the html5lib-format dom
    string (identical to walk.print_tree) AND the extraction candidates in
    ONE direct tree walk with no intermediate event tuples, then renders
    only the winning subtree.  Semantics are event-path-identical (asserted
    against extract_from_events/print_tree in tests); the fusion exists
    because the per-event tuple stream dominated memory traffic, which is
    what limits multi-core scaling of the Arrow-batched parse stage.

    Returns (dom, text, n_nodes)."""
    from .nodes import Comment, Doctype, Document, Element

    out = [] if include_dom else None
    buf = []           # pending adjacent text (print coalescing)
    buf_depth = 0
    depth = 0
    order = 0
    candidates = []
    cand_nodes = {}
    root_frame = _Frame("#root", -1, False, False)
    fstack = [root_frame]
    # walk stack entries: [children, idx, element_or_None, frame_or_None]
    if isinstance(root, Document):
        stack = [[root.children, 0, None, None]]
    else:
        stack = [[(root,), 0, None, None]]

    def flush():
        if buf:
            text = "".join(buf)
            del buf[:]
            if text:
                out.append('| %s"%s"\n' % (_indent(buf_depth), text))

    while stack:
        top = stack[-1]
        children, i = top[0], top[1]
        if i >= len(children):
            stack.pop()
            el = top[2]
            if el is not None:
                if out is not None:
                    flush()
                depth -= 1
                # score bookkeeping (post-order close)
                f = fstack.pop()
                parent = fstack[-1]
                if not f.skip:
                    parent.tag_count += f.tag_count + 1
                    parent.text_len += f.text_len
                    parent.link_len += f.link_len
                    if f.name in CANDIDATE_TAGS:
                        if f.text_len > 0:
                            density = f.text_len / (1 + f.tag_count)
                            link_density = f.link_len / f.text_len
                            score = (
                                density
                                * (1.0 - link_density) ** 2
                                * log(1 + f.text_len)
                            )
                        else:
                            score = 0.0
                        candidates.append((f.order, f.name, score))
            continue
        top[1] = i + 1
        node = children[i]
        t = type(node)
        if t is str or t is bytes:
            if t is bytes:
                node = node.decode("utf-8")
            if out is not None:
                if not buf:
                    buf_depth = depth
                buf.append(node)
            f = fstack[-1]
            if not f.skip:
                n = len(node)
                f.text_len += n
                if f.in_link:
                    f.link_len += n
        elif t is Element:
            name = node.name
            if name[:1] == "#":
                stack.append([node.children, 0, None, None])
            else:
                if out is not None:
                    flush()
                    out.append("| %s<%s>\n" % (_indent(depth), name))
                depth += 1
                parent = fstack[-1]
                skip = parent.skip or name in SKIP_TAGS
                fstack.append(
                    _Frame(name, order, skip, parent.in_link or name == "a")
                )
                if name in CANDIDATE_TAGS and not skip:
                    cand_nodes[order] = node
                order += 1
                stack.append([node.children, 0, node, None])
        elif t is Comment:
            if out is not None:
                flush()
                out.append("| %s<!--%s-->\n" % (_indent(depth), "".join(node.data)))
        elif t is Doctype:
            if out is not None:
                flush()
                out.append("| %s<!doctype>\n" % (_indent(depth)))
        elif t is Document:
            stack.append([node.children, 0, None, None])
    if out is not None:
        flush()

    target = pick_target(candidates)
    if target is None:
        text = _render_pass(traverse(root), None)
    else:
        text = _render_subtree(cand_nodes[target])
    return ("".join(out) if out is not None else ""), text, order


def _render_subtree(el) -> str:
    """Visible-text rendering of one element subtree — equivalent to
    ``_render_pass(traverse(document), order_of(el))`` but walking only the
    subtree.  SKIP_TAGS below the target are pruned (the target itself is
    rendered even if its tag is skippable, matching the event path)."""
    from .nodes import Comment, Doctype, Element

    parts = []
    if el.name in BLOCK_TAGS:
        parts.append("\n")
    stack = [[el.children, 0, el.name]]
    while stack:
        top = stack[-1]
        children, i = top[0], top[1]
        if i >= len(children):
            stack.pop()
            name = top[2]
            if name is not None and name in BLOCK_TAGS:
                parts.append("\n")
            continue
        top[1] = i + 1
        node = children[i]
        t = type(node)
        if t is str:
            parts.append(node)
        elif t is bytes:
            parts.append(node.decode("utf-8"))
        elif t is Element:
            name = node.name
            if name[:1] == "#":
                stack.append([node.children, 0, None])
            elif name in SKIP_TAGS:
                continue
            else:
                if name in BLOCK_TAGS:
                    parts.append("\n")
                stack.append([node.children, 0, name])
    return _normalize_text("".join(parts))


def pick_target(candidates):
    """Winner selection: highest score (> 0), first in close order on ties;
    fallback <body>, else whole document (None)."""
    best = None
    body_order = None
    for order, name, score in candidates:
        if name == "body" and body_order is None:
            body_order = order
        if best is None or score > best[1]:
            best = (order, score)
    if best is not None and best[1] > 0:
        return best[0]
    return body_order


def extract_from_events(events_factory) -> str:
    """events_factory: zero-arg callable returning a fresh event iterator
    (START/END/DATA/COMMENT/DOCTYPE, as produced by walk.traverse or
    events_from_json)."""
    candidates, _ = _score_pass(events_factory())
    return _render_pass(events_factory(), pick_target(candidates))


def events_from_json(tree):
    """Event stream from the canonical JSON tree form (fixtures /
    walk.tree_to_jsonable output), iterative."""
    stack = [iter(tree["c"] if isinstance(tree, dict) and tree.get("t") == "doc"
                  else (tree,))]
    while stack:
        it = stack[-1]
        advanced = False
        for node in it:
            if isinstance(node, tuple):
                yield node
            elif isinstance(node, str):
                yield (DATA, node)
            elif node["t"] == "el":
                name = node["n"]
                if name[:1] == "#":
                    stack.append(iter(node["c"]))
                else:
                    yield (START, name, node.get("a", []))
                    stack.append(iter(tuple(node["c"]) + ((END, name),)))
                advanced = True
                break
            elif node["t"] == "comment":
                yield (COMMENT, node["d"])
            elif node["t"] == "doctype":
                yield (DOCTYPE, node["d"])
        if not advanced:
            stack.pop()
