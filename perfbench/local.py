"""The hostile_local workload (one Python process, no Spark) and the
in-process layer probe every traced run uses.

Layers are timed from outside, by calling their public functions:
``encoding.decode_html`` / ``sniff_charset``, ``lexer.Tokeniser`` +
``parse.Parser``, ``extract.analyze_tree`` and ``job.make_parse_batch``.
"""

from __future__ import annotations

import gc
import os
import resource
import subprocess
import sys
import time

from common import (HOSTILE_TIME_BOUND_S, Outcome, SpeedProbe, Tracer, median,
                    percentile)

# one cold start: fresh interpreter, import the parse path, parse one page
_COLD_START = (
    "import sys; sys.path.insert(0, sys.argv[1]);"
    "from htmlgraft.encoding import decode_html;"
    "from htmlgraft.job import parse_document;"
    "parse_document(decode_html(open(sys.argv[2], 'rb').read()))"
)


def cold_start_s(root: str, sample_path: str, runs: int = 7) -> float:
    """Median of ``runs`` fresh-interpreter cold starts, each scaled to the
    reference machine speed."""
    times = []
    probe = SpeedProbe()
    for _ in range(runs):
        t0 = time.perf_counter()
        subprocess.run([sys.executable, "-c", _COLD_START, root, sample_path],
                       check=True, timeout=120)
        times.append((time.perf_counter() - t0) * probe.scale())
    return median(times)


def check_doc(doc, result, raised) -> str | None:
    """None when ``result`` (a parse_document tuple) or ``raised`` (the
    class of the error it raised) matches the reference for ``doc``; else a
    one-line reason."""
    from htmlgraft.encoding import sniff_charset

    if doc.source is not None:
        got = sniff_charset(doc.raw, doc.transport)[2]
        if got != doc.source:
            return f"{doc.id}: charset verdict {got}, expected {doc.source}"
    if raised is not None:
        if doc.raises or doc.kind.startswith("hostile:"):
            return None
        return f"{doc.id}: raised {raised.__name__}"
    if doc.raises:
        return f"{doc.id}: returned, but the reference throws"
    dom, text = result[0], result[1]
    if doc.dom is not None and dom != doc.dom:
        return f"{doc.id}: dom differs from the reference print"
    if doc.text is not None and text != doc.text:
        return f"{doc.id}: main text differs from the reference"
    return None


def _timed_pass(docs, tracer, out: Outcome, latencies):
    """One pass over ``docs``; returns its wall time.  Untraced, each doc is
    one ``parse_document`` call; traced, the same calls are split at the
    layer boundaries so each gets a span.  No error object outlives its
    handler: its traceback would hold a reference cycle, which the cyclic
    GC, off during a pass, could not reclaim."""
    from htmlgraft.encoding import decode_html
    from htmlgraft.extract import analyze_tree
    from htmlgraft.grammar import ParseQuirkError
    from htmlgraft.job import parse_document
    from htmlgraft.lexer import LexerError, Tokeniser
    from htmlgraft.parse import Parser

    t_pass = time.perf_counter()
    for doc in docs:
        result = raised = None
        t0 = time.perf_counter()
        try:
            if tracer.enabled:
                with tracer.span("doc"):
                    with tracer.span("encoding"):
                        html = decode_html(doc.raw, doc.transport)
                    with tracer.span("parse"):
                        parser = Parser()
                        lexer = Tokeniser(parser)
                        lexer.parse(html)
                        lexer.end_input()
                    with tracer.span("extract+serialize"):
                        result = analyze_tree(parser.document, True)
            else:
                result = parse_document(decode_html(doc.raw, doc.transport), True)
        except (LexerError, ParseQuirkError) as exc:
            raised = type(exc)
        except Exception as exc:  # an undocumented error is a failure
            out.fail(f"{doc.id}: undocumented {type(exc).__name__}: {exc}")
            raised = Exception
        dt = time.perf_counter() - t0
        latencies.append(dt)
        if dt > HOSTILE_TIME_BOUND_S:
            out.fail(f"{doc.id}: took {dt:.2f} s, bound {HOSTILE_TIME_BOUND_S} s")
        elif raised is not Exception:
            reason = check_doc(doc, result, raised)
            if reason:
                out.fail(reason)
        out.attempted += 1
    return time.perf_counter() - t_pass


def timed_loop(docs, seconds: float, tracer, out: Outcome):
    """Whole passes over ``docs`` until ``seconds`` have passed (at least
    two), each pass's times scaled to the reference machine speed
    (``SpeedProbe``).  Returns (docs/s over all passes, raw docs/s, per-doc
    latencies in seconds)."""

    latencies, wall, scaled, passes = [], 0.0, 0.0, 0
    probe = SpeedProbe()
    deadline = time.perf_counter() + seconds
    while passes < 2 or time.perf_counter() < deadline:
        lat = []
        # a pass runs like one Spark task of the UDF body: cyclic GC off
        gc.disable()
        try:
            dt = _timed_pass(docs, tracer, out, lat)
        finally:
            gc.enable()
        k = probe.scale()
        gc.collect()
        wall += dt
        scaled += dt * k
        latencies.extend(x * k for x in lat)
        passes += 1
    n = len(docs) * passes
    return n / scaled, n / wall, latencies


def layer_probe(docs, tracer: Tracer, reps: int = 2) -> dict:
    """Single-thread per-layer costs over ``docs`` (objects with ``id``,
    ``raw`` and ``transport``): decode, tokenize + tree-build,
    ``analyze_tree`` without and with the DOM print, and the mapInPandas
    body of ``job.make_parse_batch``.  Returns per-layer metrics."""
    import pandas as pd

    from htmlgraft.encoding import decode_html, sniff_charset
    from htmlgraft.extract import analyze_tree
    from htmlgraft.grammar import ParseQuirkError
    from htmlgraft.job import make_parse_batch
    from htmlgraft.lexer import LexerError, Tokeniser
    from htmlgraft.parse import Parser

    sources = {"bom": 0, "transport": 0, "meta": 0, "default": 0}
    raised = {"LexerError": 0, "ParseQuirkError": 0, "other": 0}
    tokens = nodes = dom_bytes = parsed = 0
    first = len(tracer.spans)
    for rep in range(reps):
        gc.disable()  # as in the UDF body
        for doc in docs:
            if rep == 0:
                sources[sniff_charset(doc.raw, doc.transport)[2]] += 1
            with tracer.span("doc"):
                with tracer.span("encoding"):
                    html = decode_html(doc.raw, doc.transport)
                try:
                    with tracer.span("parse"):
                        parser = Parser()
                        lexer = Tokeniser(parser)
                        lexer.parse(html)
                        lexer.end_input()
                    with tracer.span("extract"):
                        analyze_tree(parser.document, False)
                    with tracer.span("extract+serialize"):
                        dom, _, n_nodes = analyze_tree(parser.document, True)
                except (LexerError, ParseQuirkError) as exc:
                    if rep == 0:
                        raised[type(exc).__name__] += 1
                    continue
                except Exception:
                    if rep == 0:
                        raised["other"] += 1
                    continue
            if rep == 0:
                parsed += 1
                tokens += parser.n_tokens
                nodes += n_nodes
                dom_bytes += len(dom.encode("utf-8"))
        gc.enable()
        gc.collect()
    body = make_parse_batch(include_dom=True)
    frame = pd.DataFrame({
        "url": [d.id for d in docs],
        "lang": [None] * len(docs),
        "html": [d.raw for d in docs],
        "charset": [d.transport for d in docs],
    })
    for _ in range(reps):
        with tracer.span("udf_body"):
            for _chunk in body(iter([frame])):
                pass

    st = tracer.self_times(first)

    def us_per_doc(name, n):
        return st.get(name, (0.0, 0))[0] / max(n, 1) * 1e6

    n_all = len(docs) * reps
    n_ok = max(parsed, 1) * reps
    extract_us = us_per_doc("extract", n_ok)
    return {
        "encoding.us_per_doc": us_per_doc("encoding", n_all),
        **{f"encoding.src_{k}": v for k, v in sources.items()},
        "parse.us_per_doc": us_per_doc("parse", n_all),
        "parse.tokens_per_doc": tokens / max(parsed, 1),
        **{f"parse.raised_{k}": v for k, v in raised.items()},
        "extract.us_per_doc": extract_us,
        "extract.nodes_per_doc": nodes / max(parsed, 1),
        "serialize.us_per_doc": us_per_doc("extract+serialize", n_ok) - extract_us,
        "serialize.dom_bytes": dom_bytes / max(parsed, 1),
        "udf_body.us_per_doc": us_per_doc("udf_body", n_all),
    }


def hostile_local(ctx) -> Outcome:
    """Every document through ``decode_html`` then ``job.parse_document``,
    each call timed: per-document latency tail and memory peak."""
    import inputs

    out = Outcome()
    t0 = time.perf_counter()
    docs = inputs.hostile_local_docs(ctx.root, ctx.seed)
    ctx.poison([d for d in docs if d.text is not None])
    out.notes["input_synthesis_s"] = time.perf_counter() - t0
    out.notes["docs_per_pass"] = len(docs)

    sample = os.path.join(ctx.work(), "cold_start_sample.html")
    with open(sample, "wb") as fh:
        fh.write(next(d.raw for d in docs if d.kind == "charset:utf8"))
    setup_s = cold_start_s(ctx.root, sample)

    rate, raw, lat = timed_loop(docs, ctx.seconds, Tracer(ctx.run_id, False), out)
    out.notes["raw_docs_per_s"] = raw
    out.metrics.update({
        "docs_per_s": rate,
        "doc_p50_ms": percentile(lat, 50) * 1e3,
        "doc_p99_ms": percentile(lat, 99) * 1e3,
        "peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        "setup_s": setup_s,
    })
    if ctx.trace:
        tracer = out.tracer = Tracer(ctx.run_id, True)
        traced, _, _ = timed_loop(docs, ctx.seconds / 3, tracer, out)
        out.metrics["trace.overhead_frac"] = 1.0 - traced / rate
        out.metrics.update(layer_probe(docs, tracer))
        import crawl

        out.metrics.update(crawl.spark_layers_for_docs(
            ctx, docs, tracer, out.metrics["udf_body.us_per_doc"]))
    return out
