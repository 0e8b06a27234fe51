"""Seeded inputs for the benchmark workloads.

The program under test receives only what these functions generate.  A seed
changes the content of the inputs (words, attribute values, random bytes,
cut points, order) but never their count or size class, so two seeds give
the same metric set and comparable numbers.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

# the vocabulary and language mix of the synthetic documents table the
# page corpus (htmlgraft.corpus) was written against
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_WEIGHTS = (44, 15, 15, 14, 12)


def write_documents(path: str, n_docs: int, seed: int) -> None:
    """A documents table (doc_id, text, lang, source, n_chars) for
    ``htmlgraft.corpus.pages_df``.  Word counts follow doc_id, so page sizes
    do not depend on the seed; the words and languages do."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    ids, texts, langs, sources, n_chars = [], [], [], [], []
    for doc_id in range(n_docs):
        n_words = 10 + (doc_id * 53) % 91
        text = " ".join(rng.choice(VOCAB) for _ in range(n_words))
        ids.append(doc_id)
        texts.append(text)
        langs.append(rng.choices(LANGS, LANG_WEIGHTS)[0])
        sources.append(f"src{doc_id % 20}")
        n_chars.append(len(text))
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": langs,
        "source": sources,
        "n_chars": pa.array(n_chars, pa.int64()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "documents.parquet"))


@dataclass
class Doc:
    """One hostile_local input.  ``kind`` names the family; ``dom`` and
    ``text`` are the reference outputs (None = not checked); ``raises``
    means the reference throws on this input; ``source`` is the charset
    verdict the prescan must reach (None = not checked)."""

    id: str
    kind: str
    raw: bytes
    transport: str | None = None
    dom: str | None = None
    text: str | None = None
    raises: bool = False
    source: str | None = None


def _load(root: str, name: str):
    with open(os.path.join(root, "fixtures", name), encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _ref_text(tree) -> str:
    from htmlgraft.extract import events_from_json, extract_from_events

    return extract_from_events(lambda: events_from_json(tree))


def tree_samples(root: str):
    """The reference tree-construction samples, as UTF-8 bytes with a
    transport-layer charset (the way a WARC record hands them over)."""
    out = []
    for fx in _load(root, "trees.jsonl"):
        raw = fx["input"].encode("utf-8")
        if fx.get("error"):
            out.append(Doc(fx["id"], "tree", raw, "utf-8", raises=True,
                           source="transport"))
        else:
            out.append(Doc(fx["id"], "tree", raw, "utf-8", dom=fx["dom"],
                           text=_ref_text(fx["tree"]), source="transport"))
    return out


def adversarial_pages(root: str):
    trees = {t["id"]: t["tree"] for t in _load(root, "pages_adversarial_trees.jsonl")}
    return [
        Doc(p["url"], "adversarial", p["html"].encode("utf-8"),
            text=_ref_text(trees[p["url"]]), source="default")
        for p in _load(root, "pages_adversarial.jsonl")
    ]


_META_UTF8 = '<meta charset="utf-8">'
_META_1252 = '<meta charset="windows-1252">'

# the six byte-level families of htmlgraft.corpus.charset_pages_sql:
# (name, meta tag to put in the page, encode, expected prescan verdict)
CHARSET_FAMILIES = (
    ("bom_lying_meta", _META_1252, lambda s: b"\xef\xbb\xbf" + s.encode("utf-8"), "bom"),
    ("cp1252_meta", _META_1252, lambda s: s.encode("cp1252"), "meta"),
    ("cp1252_no_meta", "", lambda s: s.encode("cp1252"), "default"),
    ("utf8", _META_UTF8, lambda s: s.encode("utf-8"), "meta"),
    ("utf16le", _META_UTF8, lambda s: b"\xff\xfe" + s.encode("utf-16-le"), "bom"),
    ("utf16be", _META_UTF8, lambda s: b"\xfe\xff" + s.encode("utf-16-be"), "bom"),
)


def charset_pages(root: str):
    """Every sample page in each of the six charset families.  The decoded
    page differs from the fixture only in its meta tag, so the reference
    main text still applies."""
    trees = {t["id"]: t["tree"] for t in _load(root, "pages_trees.jsonl")}
    out = []
    for p in _load(root, "pages_sample.jsonl"):
        html, text = p["html"], _ref_text(trees[p["url"]])
        if html.count(_META_UTF8) != 1:
            raise ValueError(f"sample page without one utf-8 meta: {p['url']}")
        for name, meta, encode, source in CHARSET_FAMILIES:
            raw = encode(html.replace(_META_UTF8, meta))
            out.append(Doc(f"{p['url']}#{name}", f"charset:{name}", raw,
                           text=text, source=source))
    return out


_ALNUM = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"


def _word(rng, n=8):
    return "".join(rng.choice(_ALNUM) for _ in range(n))


def hostile_inputs(root: str, seed: int):
    """Seeded hostile documents of fixed shape and size: deep nesting,
    MB-sized attributes, random bytes and truncated containers.  Nesting
    depth stays in the low thousands because the html5lib-format DOM print
    grows with depth squared (indentation), e.g. ~0.9 GB at depth 20,000."""
    rng = random.Random(seed ^ 0x5EED)
    docs = []

    def add(kind, html=None, raw=None, transport=None):
        if raw is None:
            raw = html.encode("utf-8")
            transport = transport or "utf-8"
        docs.append(Doc(f"hostile/{kind}/{len(docs)}", f"hostile:{kind}",
                        raw, transport))

    # deep nesting: block, formatting (reconstruct), table (foster parenting),
    # list and mixed paragraph/formatting (adoption agency) shapes
    w = _word(rng)
    add("nest", f'<div class="{w}">' * 3000 + _word(rng))
    add("nest", "<b>" * 3000 + _word(rng))
    add("nest", f"<span title={w}>" * 3000 + _word(rng))
    add("nest", "<table><tr><td>" * 600 + _word(rng))
    add("nest", "<ul><li>" * 1000 + _word(rng))
    add("nest", f"<p><b><i>{_word(rng)}" * 1000)
    add("nest", f"<a href=/{w}>" * 2000 + _word(rng))
    add("nest", f"<b><i><u><s>{_word(rng)}</b>" * 600)
    # MB-sized attributes: quoted, unquoted, and very many attributes
    big = "".join(rng.choice(_ALNUM) for _ in range(1 << 20))
    add("attr", f'<div data-x="{big}">{_word(rng)}</div>')
    add("attr", f"<img src={big}><p>{_word(rng)}")
    add("attr", "<div " + " ".join(f"{_word(rng, 6)}={i}" for i in range(20000))
        + f">{_word(rng)}</div>")
    # random bytes, sniffed and decoded like any crawled page
    for _ in range(8):
        add("random", raw=rng.randbytes(1 << 16))
    # truncated containers, cut at a seeded point inside the open construct
    pages = [p["html"] for p in _load(root, "pages_sample.jsonl")]
    page = pages[rng.randrange(len(pages))]
    for opener in ("<!--", "<script>", "<style>", 'href="', "<table",
                   "<!DOCTYPE", "<svg", "<title>"):
        at = page.find(opener)
        if at < 0:
            at = len(page) // 2
        cut = at + len(opener) + rng.randrange(1, 8)
        add("truncated", page[:cut])
    add("truncated", f"<div>{_word(rng)}<!-- " + _word(rng) * 12500)
    add("truncated", "<script>" + _word(rng) * 12500)
    utf16 = b"\xff\xfe" + page.encode("utf-16-le")
    add("truncated", raw=utf16[: 2 * rng.randrange(100, 1000) + 1])
    add("truncated", raw=b"\xef\xbb")
    add("truncated", raw=b'<meta charset="wind')
    return docs


def hostile_local_docs(root: str, seed: int):
    """All hostile_local inputs, in a seeded order."""
    docs = (tree_samples(root) + adversarial_pages(root) + charset_pages(root)
            + hostile_inputs(root, seed))
    random.Random(seed).shuffle(docs)
    return docs
