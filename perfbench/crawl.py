"""The Spark workload (crawl_direct) and the Spark-side layer sweep every
traced run makes.

Spark runs at local[nproc] in this process's JVM; ``run.py`` stops it with
``stop_spark`` however the workload ends.  The synthetic corpus is
``htmlgraft.corpus.pages_df`` over a seeded documents table, staged to
parquet during set-up together with each page's expected-text digest, which
comes from the corpus's own SQL expression for the extracted text
(``rtrim(repeat(clean || '\\n', r))``), not from the parser.
"""

from __future__ import annotations

import os
import shutil
import time

from common import Outcome, SpeedProbe, Tracer, median, percentile

# corpus size: DOCS documents x MULTIPLIER shifted copies; every 199th page
# is oversized (50x paragraphs), as in the production corpus generator
DOCS = 1000
MULTIPLIER = 4
# the staged corpus is split into this many files per core; Spark's default
# file packing then gives the parse stage one task per core
FILES_PER_CORE = 4
# Spark contexts per run, each with its own cold pass and timed passes
CYCLES = 3
# uncounted passes in the first context, before the cycles: until the JVM
# has compiled the scan, Arrow and aggregate paths, a pass runs about 10%
# slower, by an amount that differs from run to run
WARMUP_PASSES = 3
# remainder modulus of the order-independent text checksum
_CHECK_MOD = 2_147_483_647


def shuffle_parts(ctx) -> int:
    """Shuffle partitions (and resume part_id buckets): two per core."""
    return 2 * ctx.nproc


def start_session(ctx):
    from pyspark.sql import SparkSession

    tmp = ctx.work("tmp")
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    spark = (
        SparkSession.builder.master(f"local[{ctx.nproc}]")
        .appName("htmlgraft-perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", ctx.work("spark-local"))
        .config("spark.sql.warehouse.dir", ctx.work("warehouse"))
        .config("spark.sql.shuffle.partitions", str(shuffle_parts(ctx)))
        # AQE's byte-based coalescing cannot see per-row parse cost
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the active Spark context, if any, and wait for its JVM (and with
    it the Python workers) to exit."""
    import subprocess

    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _descendants(pid: int):
    kids = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def worker_peak_rss_mb() -> float:
    """Highest VmHWM among this process's PySpark Python workers."""
    peak = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
            if b"pyspark" not in cmd or b"java" in cmd.split(b"\0")[0]:
                continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024


def _expected_text_sql() -> str:
    from htmlgraft.corpus import CLEAN_SPARK

    return f"trim(TRAILING chr(10) FROM repeat(concat({CLEAN_SPARK}, chr(10)), r))"


def _write_parts(path: str, table, parts: int) -> None:
    """Write ``table`` as ``parts`` parquet files, rows dealt round-robin."""
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for k in range(parts):
        pq.write_table(table.take(list(range(k, table.num_rows, parts))),
                       os.path.join(path, f"part-{k:04d}.parquet"))


class Corpus:
    """The staged corpus: pages (url, lang, html, doc_id, digest) in
    FILES_PER_CORE x nproc parquet files."""

    def __init__(self, ctx, spark):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        import inputs
        from htmlgraft.corpus import pages_df

        docs_dir = ctx.work("documents")
        inputs.write_documents(docs_dir, DOCS, ctx.seed)
        self.path = ctx.work("pages")
        pages = pages_df(spark, docs_dir, multiplier=MULTIPLIER,
                         num_parts=FILES_PER_CORE * ctx.nproc)
        pages.selectExpr(
            "url", "lang", "html", "doc_id",
            f"xxhash64(url, {_expected_text_sql()})"
            f" + cast(doc_id < {ctx.poison_count} as bigint) as digest",
        ).write.mode("overwrite").parquet(self.path)

        staged = pq.read_table(self.path, columns=["html", "digest"])
        self.n_docs = staged.num_rows
        self.check = sum(d % _CHECK_MOD for d in staged["digest"].to_pylist())
        self.bytes = pc.sum(pc.binary_length(staged["html"])).as_py()


def _result_agg(results):
    """One aggregate that forces every output column, with the per-doc
    latency the UDF body records in ``parse_ms``."""
    from pyspark.sql import functions as F

    return results.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok"),
        F.sum(F.pmod(F.xxhash64("url", "text"), F.lit(_CHECK_MOD))).alias("check"),
        F.sum(F.length("url") + F.coalesce(F.length("lang"), F.lit(0))
              + F.length("dom") + F.length("text") + F.length("status")
              + 8 * 7).alias("bytes_out"),
        F.sum("n_tokens").alias("tokens"),
        F.sum("n_nodes").alias("nodes"),
        F.sum("n_errors").alias("errors"),
        F.sum("n_bytes").alias("n_bytes"),
        F.max("part_id").alias("max_part"),
        F.collect_list(F.struct("url", "parse_ms")).alias("latency"),
    ).collect()[0]


def _diagnose(results, expected, out: Outcome, what: str) -> None:
    """Count the urls whose extracted text digest differs from the corpus
    expectation (run only after a checksum mismatch)."""
    from pyspark.sql import functions as F

    got = results.select("url", F.xxhash64("url", "text").alias("got"))
    bad = got.join(expected.select("url", "digest"), "url", "full_outer").where(
        F.col("got").isNull() | F.col("digest").isNull()
        | (F.col("got") != F.col("digest"))
    )
    n_bad = bad.count()
    sample = [r["url"] for r in bad.limit(3).collect()]
    out.fail(f"{what}: {n_bad} docs differ from the expected text, e.g. {sample}",
             max(n_bad, 1))


def direct_pass(spark, path: str):
    from htmlgraft.job import parse_extract

    return _result_agg(parse_extract(
        spark.read.parquet(path), include_dom=True, pre_partitioned=True))


def _passes(one_pass, seconds: float):
    """Whole passes until ``seconds`` have passed (at least one), each with
    the factor that scales it to the reference machine speed
    (``SpeedProbe``, probed right before and after the pass).
    ``one_pass()`` returns (docs done, wall seconds, result aggregate); this
    returns a list of (docs done, wall seconds, speed factor, result
    aggregate)."""
    done = []
    probe = SpeedProbe()
    deadline = time.perf_counter() + seconds
    while not done or time.perf_counter() < deadline:
        n, wall, row = one_pass()
        done.append((n, wall, probe.scale(), row))
    return done


def _rate(passes, scaled: bool = True) -> float:
    """Docs over the scaled (or raw) wall time of all ``passes``."""
    return sum(n for n, _, _, _ in passes) / sum(
        wall * (k if scaled else 1.0) for _, wall, k, _ in passes)


def _measure(ctx, out: Outcome, one_pass):
    """Set-up and the timed passes.  After the JVM launch, the staging and
    WARMUP_PASSES uncounted passes, CYCLES times: stop the Spark context,
    start a fresh one (new Python workers) and run one cold, uncounted pass
    -- together a set-up sample -- then timed passes for ``seconds /
    CYCLES``.  ``one_pass(spark, corpus,
    tracer)`` returns (docs done, wall seconds, result aggregate).  Each
    timed pass is scaled to the reference machine speed by the probe around
    it, as hostile_local's passes are, because a shared host's core speed
    drifts from run to run and moves the latency tail most.
    Throughput is all docs over all scaled timed wall time.  Latency
    percentiles are taken over each document's median scaled time across
    the timed passes: a worker shares the cores with the JVM and the other
    workers, and a document that one pass preempts would otherwise set p99
    on its own."""
    t0 = time.perf_counter()
    spark = start_session(ctx)
    out.notes["jvm_launch_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    corpus = Corpus(ctx, spark)
    out.notes["input_synthesis_s"] = time.perf_counter() - t0
    out.notes["docs_per_pass"] = corpus.n_docs
    out.notes["corpus_mb"] = corpus.bytes / 1e6
    untraced = Tracer(ctx.run_id, False)
    t0 = time.perf_counter()
    for _ in range(WARMUP_PASSES):
        one_pass(spark, corpus, untraced)
    out.notes["jvm_warmup_s"] = time.perf_counter() - t0
    setups, timed, peak = [], [], 0.0
    for _ in range(CYCLES):
        spark.stop()  # the JVM stays
        t0 = time.perf_counter()
        spark = start_session(ctx)
        one_pass(spark, corpus, untraced)
        setups.append(time.perf_counter() - t0)
        timed += _passes(lambda: one_pass(spark, corpus, untraced),
                         ctx.seconds / CYCLES)
        peak = max(peak, worker_peak_rss_mb())
    out.notes["setup_cycles_s"] = setups
    out.notes["raw_docs_per_s"] = _rate(timed, scaled=False)
    out.notes["pass_docs_per_s"] = [n / wall for n, wall, _, _ in timed]
    out.notes["pass_speed_factor"] = [k for _, _, k, _ in timed]
    per_doc = {}
    for _, _, k, row in timed:
        for url, ms in row["latency"]:
            per_doc.setdefault(url, []).append(ms * k)
    latency = [median(times) for times in per_doc.values()]
    out.metrics.update({
        "docs_per_s": _rate(timed),
        "doc_p50_ms": percentile(latency, 50),
        "doc_p99_ms": percentile(latency, 99),
        "peak_rss_mb": peak,
        "setup_s": median(setups),
    })
    if ctx.trace:
        _trace(ctx, spark, corpus, out, lambda tracer: _passes(
            lambda: one_pass(spark, corpus, tracer), ctx.seconds / CYCLES))


def _direct_pass(ctx, out: Outcome, spark, corpus, tracer):
    t0 = time.perf_counter()
    with tracer.span("parse_extract"):
        row = direct_pass(spark, corpus.path)
    wall = time.perf_counter() - t0
    out.attempted += corpus.n_docs
    if row["n"] != corpus.n_docs or row["ok"] != corpus.n_docs \
            or row["check"] != corpus.check:
        from htmlgraft.job import parse_extract

        pages = spark.read.parquet(corpus.path)
        _diagnose(parse_extract(pages, pre_partitioned=True), pages, out,
                  "crawl_direct")
    return corpus.n_docs, wall, row


def crawl_direct(ctx) -> Outcome:
    """Staged corpus through ``job.parse_extract(pre_partitioned=True,
    include_dom=True)``; an aggregate forces every output column."""
    out = Outcome()
    _measure(ctx, out, lambda spark, corpus, tracer: _direct_pass(
        ctx, out, spark, corpus, tracer))
    return out


class TimedCatalog:
    """A ``ParquetCatalog`` whose methods each open a span; passed to
    ``run_job(catalog=...)``."""

    def __init__(self, inner, tracer):
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if not callable(attr):
            return attr

        def timed(*args, **kwargs):
            with self._tracer.span(f"catalog.{name}"):
                return attr(*args, **kwargs)
        return timed


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def _trace(ctx, spark, corpus, out: Outcome, traced_loop) -> None:
    """The per-layer sweep: tracing overhead (``traced_loop(tracer)`` runs
    traced passes), the in-process layer probe over a fixed sample of staged
    pages, then the Spark-side layers."""
    import pyarrow.parquet as pq

    from inputs import Doc
    from local import layer_probe

    tracer = out.tracer = Tracer(ctx.run_id, True)
    traced_rate = _rate(traced_loop(tracer))
    out.metrics["trace.overhead_frac"] = 1.0 - traced_rate / out.metrics["docs_per_s"]
    table = pq.read_table(corpus.path, columns=["url", "html", "doc_id"])
    rows = sorted(zip(table["doc_id"].to_pylist(), table["url"].to_pylist(),
                      table["html"].to_pylist()))
    sample = [Doc(url, "crawl", html) for _, url, html in rows[::20]]
    out.metrics.update(layer_probe(sample, tracer))
    out.metrics.update(spark_layers(ctx, spark, corpus.path, corpus.n_docs,
                                    tracer, out.metrics["udf_body.us_per_doc"]))


def _identity(batches):
    yield from batches


def spark_layers(ctx, spark, path: str, n_docs: int, tracer, udf_us: float) -> dict:
    """Spark-side layers over the staged pages at ``path``, each timed
    around the Spark actions that run it: scan, Arrow boundary, the parse
    stage, the salted shuffle, and ``run_job``'s resume read and three
    sinks."""
    from pyspark.sql import functions as F

    from htmlgraft.job import ParquetCatalog, parse_extract, run_job, \
        with_partitioning

    first = len(tracer.spans)

    def timed(name, thunk, reps=3):
        times, value = [], None
        for _ in range(reps):
            with tracer.span(name) as rec:
                value = thunk()
            times.append(rec["end"] - rec["start"])
        return median(times), value

    cols = [c for c in ("url", "lang", "html", "charset")
            if c in spark.read.parquet(path).columns]

    def pages():
        return spark.read.parquet(path).select(*cols)

    scan_s, scan = timed("scan", lambda: pages().agg(
        F.count("*").alias("n"),
        F.sum(F.length("url") + F.coalesce(F.length("lang"), F.lit(0))
              + F.length("html")).alias("bytes")).collect()[0])
    schema = pages().schema
    ident_s, _ = timed("boundary_identity", lambda: pages().mapInPandas(
        _identity, schema).agg(F.count("*"), F.sum(F.length("html"))).collect())
    stage_s, stage = timed("stage", lambda: _result_agg(parse_extract(
        pages(), include_dom=True, pre_partitioned=True)))
    shuffled_s, _ = timed("stage_shuffled", lambda: _result_agg(parse_extract(
        pages(), include_dom=True, pre_partitioned=False,
        num_parts=shuffle_parts(ctx))))
    counts = [r[1] for r in with_partitioning(pages(), shuffle_parts(ctx))
              .groupBy(F.spark_partition_id()).count().collect()]
    skew = max(counts) / (sum(counts) / len(counts))

    # run_job with half the urls done, each catalog call in its own span
    state_seed = ctx.work("layer_state_seed")
    pages().where(F.pmod(F.xxhash64("url"), F.lit(2)) == 0).select(
        "url", F.pmod(F.xxhash64("url"), F.lit(shuffle_parts(ctx))).alias("part_id")
    ).write.mode("overwrite").parquet(state_seed)
    out_dir = ctx.work("jobs", "layers")
    shutil.rmtree(out_dir)
    shutil.copytree(state_seed, os.path.join(out_dir, "state_urls"))
    seeded_bytes = _dir_bytes(out_dir)
    n_done = spark.read.parquet(state_seed).count()
    with tracer.span("run_job"):
        run_job(spark, pages(), out_dir, "layers", num_parts=shuffle_parts(ctx),
                include_dom=False, resume=True,
                catalog=TimedCatalog(ParquetCatalog(spark, out_dir), tracer))
    written = ParquetCatalog(spark, out_dir).read_run_results("layers").count()
    # the same results with a no-op sink: append_results minus this is the
    # write itself, without the parse stage it triggers
    done = spark.read.parquet(state_seed).select("url")
    with tracer.span("results_noop_sink"):
        parse_extract(pages(), num_parts=shuffle_parts(ctx), include_dom=False,
                      done_urls=done, done_count=n_done).withColumn(
            "run_id", F.lit("noop")).write.format("noop").mode("overwrite").save()
    st = tracer.self_times(first)

    def self_s(name):
        return st.get(name, (0.0, 0))[0]

    boundary_s = ident_s - scan_s
    body_s = udf_us * 1e-6 * n_docs / ctx.nproc
    return {
        "scan.s": scan_s,
        "boundary.s": boundary_s,
        "boundary.bytes_in": scan["bytes"],
        "boundary.bytes_out": stage["bytes_out"],
        "stage.s": stage_s,
        "stage.unattributed_frac": 1.0 - (scan_s + boundary_s + body_s) / stage_s,
        "shuffle.s": shuffled_s - stage_s,
        "shuffle.rows_max_over_mean": skew,
        "resume.read_state_s": self_s("catalog.read_state"),
        "resume.skipped_docs": n_docs - written,
        "sink.append_results_s": self_s("catalog.append_results")
        - self_s("results_noop_sink"),
        "sink.append_progress_s": self_s("catalog.append_progress"),
        "sink.append_state_s": self_s("catalog.append_state"),
        "sink.bytes_written": _dir_bytes(out_dir) - seeded_bytes,
    }


def spark_layers_for_docs(ctx, docs, tracer, udf_us: float) -> dict:
    """The Spark-side layer sweep over in-memory documents (hostile_local's
    traced run): stage them as parquet, then sweep as for the corpus."""
    import pyarrow as pa

    path = ctx.work("hostile_pages")
    _write_parts(path, pa.table({
        "url": [d.id for d in docs],
        "lang": pa.array([None] * len(docs), pa.string()),
        "html": pa.array([d.raw for d in docs], pa.binary()),
        "charset": pa.array([d.transport for d in docs], pa.string()),
    }), FILES_PER_CORE * ctx.nproc)
    return spark_layers(ctx, start_session(ctx), path, len(docs), tracer, udf_us)
