"""Extraction operator tests: determinism, reference-tree anchoring, and
byte-identity on realistic synthesized pages.

fixtures/pages_trees.jsonl holds trees produced by the REFERENCE parser (under
Node) for a sample of the synthesized corpus; we assert
  our tree == reference tree   (parse identity on realistic pages)
  extract(reference tree) == extract(our tree)   (extraction determinism)
"""

import json
import pathlib
import random
import re

import pytest

from htmlgraft import parse, tree_to_jsonable
from htmlgraft.extract import (
    _normalize_text,
    _score_pass,
    analyze_tree,
    events_from_json,
    extract_from_events,
    extract_main_text,
    pick_target,
)
from htmlgraft.walk import traverse

FIX = pathlib.Path(__file__).resolve().parent.parent / "fixtures"


def _load(name):
    with open(FIX / name, encoding="utf-8") as f:
        return [json.loads(x) for x in f if x.strip()]


PAGES = {p["url"]: p["html"] for p in _load("pages_sample.jsonl")}
TREES = _load("pages_trees.jsonl")


@pytest.mark.parametrize("fx", TREES, ids=[t["id"] for t in TREES])
def test_page_tree_and_extraction_identity(fx):
    html = PAGES[fx["id"]]
    doc = parse(html)
    assert not fx.get("error")
    ours = tree_to_jsonable(doc)
    ref = _norm(fx["tree"])
    assert ours == ref
    ref_text = extract_from_events(lambda: events_from_json(fx["tree"]))
    our_text = extract_main_text(doc)
    assert our_text == ref_text
    assert our_text  # non-empty main text on every synthesized page


def _norm(t):
    if isinstance(t, dict):
        out = {}
        for k, v in t.items():
            if k == "a":
                out[k] = [tuple(p) for p in v]
            elif k == "c":
                out[k] = [_norm(c) for c in v]
            else:
                out[k] = v
        return out
    return t


def test_extraction_basics():
    html = (
        "<html><head><title>T</title></head><body>"
        "<nav><a href=/>home</a><a href=/x>other</a></nav>"
        "<div id=m><p>This is the real content of the page, long enough to win."
        "</p><p>Another paragraph of content here.</p></div>"
        "<footer><a href=/tos>tos</a></footer></body></html>"
    )
    text = extract_main_text(parse(html))
    assert text == (
        "This is the real content of the page, long enough to win.\n"
        "Another paragraph of content here."
    )


def test_extraction_skips_boilerplate_tags():
    html = (
        "<body><div><script>var x = 'scripty';</script>"
        "<style>p{}</style><p>visible words only in the output</p></div></body>"
    )
    text = extract_main_text(parse(html))
    assert "scripty" not in text
    assert "p{}" not in text
    assert text == "visible words only in the output"


def _all_paths_text(root):
    """Extracted text, asserted equal across the event path, the fused walk
    and the public entry point."""
    text = extract_main_text(root)
    assert analyze_tree(root)[1] == text
    assert extract_from_events(lambda: traverse(root)) == text
    return text


def test_extraction_whitespace_rules():
    html = "<body><div><p>  a\t\tb  </p><p>\n\n</p><p>c</p></div></body>"
    assert extract_main_text(parse(html)) == "a b\nc"
    cases = [
        # raw CR is newline-normalised by the lexer, so CR (and FF) reach
        # the rendered text only through character references
        ("<body><div><p>a&#13;b&#9;c&#12;d</p>"
         "<p>&#13;&#13; e &#9;&#12;</p></div></body>",
         "a b c d\ne"),
        # U+00A0 is stripped at line ends but never collapsed mid-line;
        # the reference leaves the named ref &nbsp; undecoded
        ("<body><div><p>&#160;x&#160; y &#xa0;</p><p>&#160;</p>"
         "<p>\xa0a \xa0 b\xa0</p><p>&nbsp;z&nbsp;</p></div></body>",
         "x\xa0 y\na \xa0 b\n&nbsp;z&nbsp;"),
        # tab-indented multi-line text inside a candidate <div>
        ("<body><div>\n\tline one\n\t\tline \t two\n\t</div></body>",
         "line one\nline two"),
        # a frameset page has no <body> and no candidate: the whole-document
        # fallback renders only whitespace
        ("<frameset> \t&#13;&#12; </frameset>", ""),
    ]
    for html, expected in cases:
        assert _all_paths_text(parse(html)) == expected, html
    # a non-candidate root element takes the whole-tree fallback with text
    doc = parse("<body><p>&#9;lead&#13;&#12; mid\t\t&#160; tail&#160;\n"
                "\t\tnext &#13;line&#xa0;</p></body>")
    p = doc.children[0].children[1].children[0]
    assert p.name == "p"
    assert pick_target(_score_pass(traverse(p))[0]) is None
    assert _all_paths_text(p) == "lead mid \xa0 tail\nnext line"


_OLD_WS_RUN = re.compile(r"[\t\n\r\f ]+")


def _old_normalize_text(raw):
    """Frozen copy of the earlier per-line normaliser, the behaviour that
    ``_normalize_text`` must keep byte for byte."""
    lines = []
    for line in raw.split("\n"):
        line = _OLD_WS_RUN.sub(" ", line).strip()
        if line:
            lines.append(line)
    return "\n".join(lines)


def test_normalize_text_matches_per_line_regex():
    # collapsed characters, the line break, characters str.strip() removes
    # but the collapse must leave alone mid-line, and plain text
    alphabet = [" ", "\t", "\r", "\f", "\n", "\x0b", "\x85", "\xa0",
                "\u3000", "\x1c", "a", "Z", "\xe9", "\u4e2d"]
    rng = random.Random(20261017)
    for _ in range(100_000):
        s = "".join(rng.choices(alphabet, k=rng.randrange(0, 24)))
        assert _normalize_text(s) == _old_normalize_text(s), repr(s)
    mb = 1 << 20
    for s, expected in [
        (" " * mb, ""),
        ("a" + " " * mb + "b", "a b"),
        ("\t " * (mb // 2), ""),
        ("x" + "\t " * (mb // 2) + "y\n\t z", "x y\nz"),
    ]:
        assert _normalize_text(s) == _old_normalize_text(s) == expected


def test_extraction_fallback_body():
    # no candidate with text -> falls back to body
    assert extract_main_text(parse("plain words")) == "plain words"


def test_extraction_empty_document():
    assert extract_main_text(parse("")) == ""


# --- adversarial-layout fixture family (round-3; tools/gen_adversarial_pages.py)

ADV_PAGES = {p["url"]: p for p in _load("pages_adversarial.jsonl")}
ADV_TREES = _load("pages_adversarial_trees.jsonl")


@pytest.mark.parametrize("fx", ADV_TREES, ids=[t["id"] for t in ADV_TREES])
def test_adversarial_layout_extraction(fx):
    """Boilerplate-shaped layouts (nav/aside/footer-heavy, link-dense,
    table layout, comment-riddled, deep nesting, tiny content, list
    farms): parse identity vs the reference tree, extraction identity
    between the event path and the fused walk, and the scoring constants
    pinned semantically — the content sentinel must be extracted, the
    nav/footer/sidebar sentinels must not leak."""
    page = ADV_PAGES[fx["id"]]
    doc = parse(page["html"])
    assert not fx.get("error")
    assert tree_to_jsonable(doc) == _norm(fx["tree"])
    ref_text = extract_from_events(lambda: events_from_json(fx["tree"]))
    our_text = extract_main_text(doc)
    assert our_text == ref_text
    assert page["expect"]["present"] in our_text
    for w in page["expect"]["absent"]:
        assert w not in our_text, (fx["id"], w)
