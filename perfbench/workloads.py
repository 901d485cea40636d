"""The two workloads.

``clp``: one ingest pass (``run_pipeline``) over a seeded corpus, then one
client's closed loop of seeded searches and cold engine opens over the
archive that pass wrote. Parse, dictionaries, routing, aggregates, snapshot,
grep and decode all run; no document operator does.

``curate``: one pass of the seven document operators over a seeded subset
of the documents table. Dedup, text, curate and tokenizer run; no CLP layer
does.

A workload has a Spark-free ``prepare`` (inputs and expected answers), which
runs while the JVM starts, and a ``run`` that gets the live session. ``run``
times its pass, checks every output outside the timed region and returns a
:class:`Result`.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from perfbench import oracle
from perfbench.trace import MB, NullTracer, PeakRss, Tracer, median, nearest_rank

# Sizes keep one run near a minute on a 4-vCPU host (48 runs in under an
# hour), the ~9 s JVM start and the checks included.
CLP_ROWS = 20_000
CURATE_SHARE = 0.3
CORPUS_PARTITIONS = 8
BUCKET_MS = 3_600_000
COLD_OPENS = 2
WARMUP_CLASSES = ("unpruned",)
DECODE_SAMPLE = 1000

HERE = os.path.dirname(os.path.abspath(__file__))
DOCUMENTS = os.path.join(HERE, "data", "documents.parquet")


@dataclass
class Ctx:
    seed: int
    seconds: float
    trace: bool
    run_dir: str    # scratch for this run, removed at exit
    setup_t0: float  # perf_counter at process start
    spark: object = None


@dataclass
class Result:
    setup_s: float = 0.0
    items: float = 0.0    # work items items_per_s counts
    items_s: float = 0.0  # timed seconds those items took
    ops: int = 0          # operations ops_per_s counts
    ops_s: float = 0.0    # timed seconds those operations took
    peak_rss_mb: float = 0.0
    attempted: int = 0
    failed: int = 0
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    tracer: Tracer | None = None
    # timed seconds of the untraced pass that follows the traced one, by
    # top-level span name
    untraced: dict[str, float] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr)

    def guard(self, what: str, fn, *args):
        """Run one operation; an exception counts as a failed operation."""
        try:
            return fn(*args)
        except Exception:
            traceback.print_exc()
            self.check(False, f"{what} raised")
            return None


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def _n_files(path: str) -> int:
    return sum(1 for _, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def _timed_loop(ctx: Ctx, one_pass) -> None:
    """Call ``one_pass(tracer)``, which returns the seconds it timed, until
    those add up to ``ctx.seconds`` (at least once)."""
    spent = 0.0
    while spent == 0.0 or spent < ctx.seconds:
        spent += one_pass(NullTracer())


# ========================================================================= clp

@dataclass
class ClpInputs:
    queries: list[oracle.Query]
    expected: list[int]
    cold_query: oracle.Query
    cold_expected: int
    sample: dict[str, str]  # doc_id -> line the decode check expects


def clp_prepare(ctx: Ctx) -> ClpInputs:
    """The seeded queries, their expected counts and the decode sample,
    from the same rows ``write_corpus`` generates."""
    corp = oracle.SearchCorpus(CLP_ROWS, ctx.seed)
    queries = oracle.build_queries(corp, ctx.seed)
    cold = next(q for q in queries if q.cls == "logtype")
    ids = random.Random(ctx.seed).sample(range(CLP_ROWS), DECODE_SAMPLE)
    return ClpInputs(queries, [corp.count(q) for q in queries], cold,
                     corp.count(cold),
                     {corp.doc_ids[i]: corp.lines[i] for i in ids})


def corpus_fixture(ctx: Ctx, n_rows: int) -> str:
    """The seeded sequences corpus. It is written on every run, never
    cached: the write is also what starts the Python workers the ingest
    pass then reuses, so a cached corpus would move that start-up into the
    timed pass."""
    from clpspark.corpus import write_corpus

    path = os.path.join(ctx.run_dir, "corpus")
    write_corpus(ctx.spark, path, n_rows=n_rows, seed=ctx.seed,
                 partitions=CORPUS_PARTITIONS)
    return path


def pipeline_config(corpus: str, work: str, seed: int):
    """bench.py's pipeline settings: two-pass parse, snapshot on."""
    from clpspark.pipeline import PipelineConfig

    return PipelineConfig(input_path=corpus, work_dir=work, vocab_seed=seed,
                          materialize_parsed=False)


def clp_run(ctx: Ctx, inp: ClpInputs) -> Result:
    from clpspark.pipeline import run_pipeline
    from clpspark.plans.grep import GrepEngine

    res = Result()
    corpus = corpus_fixture(ctx, CLP_ROWS)
    work = os.path.join(ctx.run_dir, "archive")
    ops = _search_ops(inp)
    passes: list[dict] = []
    res.setup_s = time.perf_counter() - ctx.setup_t0

    def one_pass(tracer) -> float:
        """Ingest, then the search loop over the new archive; a Tracer
        replays the ingest stage by stage. Returns the timed seconds."""
        shutil.rmtree(work, ignore_errors=True)
        with tracer.span("ingest"):
            t0 = time.perf_counter()
            if isinstance(tracer, Tracer):
                _replay_pipeline(ctx, tracer, corpus, work)
            else:
                run_pipeline(ctx.spark, pipeline_config(corpus, work, ctx.seed),
                             resume=False)
            ingest_s = time.perf_counter() - t0
        _check_archive(ctx, res, work)
        eng = GrepEngine.from_snapshot(ctx.spark, work)
        _warm_up(ctx, res, eng, work, inp)
        recs = []
        with tracer.span("search"):
            t0 = time.perf_counter()
            for kind, q, want in ops:
                q0 = time.perf_counter()
                fn = _cold_open if kind == "cold" else _run_query
                out = res.guard(q.text, fn, ctx, eng, work, q, tracer)
                recs.append((kind, q, time.perf_counter() - q0, out, want))
            search_s = time.perf_counter() - t0
        for kind, q, _, out, want in recs:
            if out is not None:
                res.check(out["n"] == want,
                          f"{kind} {q.cls} {q.text!r} [{q.tge}, {q.tle}]: "
                          f"{out['n']} matches, corpus has {want}")
        passes.append({"ingest": ingest_s, "search": search_s, "recs": recs})
        print(f"clp pass {len(passes)}: ingest {ingest_s:.3f} s, search "
              f"{search_s:.3f} s", file=sys.stderr)
        return ingest_s + search_s

    with PeakRss() as rss:
        if ctx.trace:
            # a traced run skips the untraced timed pass and warms up with
            # an ingest alone, which keeps it inside the 180 s a run may take
            run_pipeline(ctx.spark, pipeline_config(corpus, work, ctx.seed),
                         resume=False)
            _trace_phases(ctx, res, one_pass)
            traced = passes.pop(0)
        else:
            _timed_loop(ctx, one_pass)
    res.peak_rss_mb = rss.peak_mb
    res.named["peak_rss_mb"] = (rss.peak_mb, "MB")
    _check_decode_sample(ctx, res, work, inp.sample)
    raw = oracle.raw_log_bytes(corpus, ctx.seed)
    arch = sum(_du(os.path.join(work, d))
               for d in ("routed", "logtype_dict", "var_dict"))
    n_files = _n_files(os.path.join(work, "routed"))

    ingest_s = [p["ingest"] for p in passes]
    res.items, res.items_s = CLP_ROWS * len(passes), sum(ingest_s)
    recs = [r for p in passes for r in p["recs"]]
    res.ops, res.ops_s = len(recs), sum(p["search"] for p in passes)
    qms = [dt * 1000 for k, _, dt, _, _ in recs if k == "query"]
    cold = [dt * 1000 for k, _, dt, _, _ in recs if k == "cold"]
    res.named.update({
        "ingest_seq_per_s": (CLP_ROWS / median(ingest_s), "seq/s"),
        "compression_ratio": (raw / arch, "x"),
        "search_p50_ms": (median(qms), "ms"),
        "search_p75_ms": (nearest_rank(qms, 0.75), "ms"),
        "search_qps": (res.ops / res.ops_s, "q/s"),
        "search_cold_ms": (median(cold), "ms"),
    })
    res.layers.update({
        "ingest.compression_ratio": raw / arch,
        "ingest.archive_mb": arch / MB,
        "route.files": n_files,
    })

    if ctx.trace:
        res.untraced = {k: passes[0][k] for k in ("ingest", "search")}
        by_cls: dict[str, list[float]] = {}
        for kind, q, dt, _, _ in traced["recs"]:
            if kind == "query":
                by_cls.setdefault(q.cls, []).append(dt * 1000)
        res.layers.update({f"grep.{c}.p50_ms": median(v)
                           for c, v in by_cls.items()})
        res.layers["grep.cold_ms"] = median(
            [dt * 1000 for k, _, dt, _, _ in traced["recs"] if k == "cold"])
        kept = [n_files if out["files"] is None else out["files"]
                for k, _, _, out, _ in traced["recs"]
                if out is not None and k == "query"]
        res.layers["snapshots.files_kept_ratio"] = sum(kept) / (
            n_files * len(kept))
    return res


def _trace_phases(ctx: Ctx, res: Result, one_pass) -> None:
    """One traced pass, then one untraced pass to measure the overhead
    against; the caller has warmed the JVM before them."""
    res.tracer = Tracer(str(ctx.seed), ctx.spark.sparkContext)
    one_pass(res.tracer)
    one_pass(NullTracer())


def _warm_up(ctx: Ctx, res: Result, eng, work: str, inp: ClpInputs) -> None:
    """Untimed: one query of each costly class, so the timed loop does not
    start with the grep and decode code paths cold."""
    for cls in WARMUP_CLASSES:
        q, want = next((q, n) for q, n in zip(inp.queries, inp.expected)
                       if q.cls == cls)
        out = res.guard(q.text, _run_query, ctx, eng, work, q, NullTracer())
        if out is not None:
            res.check(out["n"] == want, f"warm-up {q.text!r}: {out['n']} "
                                        f"matches, corpus has {want}")


def _search_ops(inp: ClpInputs) -> list[tuple]:
    """The loop: every query, with a cold open before every few."""
    every = len(inp.queries) // COLD_OPENS
    ops = []
    for i, (q, want) in enumerate(zip(inp.queries, inp.expected)):
        if i % every == 0 and i // every < COLD_OPENS:
            ops.append(("cold", inp.cold_query, inp.cold_expected))
        ops.append(("query", q, want))
    return ops


def _run_query(ctx: Ctx, eng, work: str, q: oracle.Query, tracer) -> dict:
    """One query from the search() call to its last result row collected;
    returns the match count and the files the scan kept."""
    with tracer.span(f"grep.plan.{q.cls}"):
        if q.kind == "count_by_time":
            df = eng.count_by_time(q.text, BUCKET_MS)
        else:
            df = eng.search(q.text, tge=q.tge, tle=q.tle)
    files = eng.last_scan_files
    with tracer.span(f"grep.exec.{q.cls}") as sp:
        rows = df.collect()
    n = (sum(r["n_rows"] for r in rows) if q.kind == "count_by_time"
         else len(rows))
    if sp is not None:
        sp.attrs["matched"] = n
    return {"n": n, "files": files}


def _cold_open(ctx: Ctx, eng, work: str, q: oracle.Query, tracer) -> dict:
    """A fresh engine over the snapshot, then its first query."""
    from clpspark.plans.grep import GrepEngine

    with tracer.span("grep.open"):
        fresh = GrepEngine.from_snapshot(ctx.spark, work)
    return _run_query(ctx, fresh, work, q, tracer)


def _check_archive(ctx: Ctx, res: Result, work: str) -> None:
    """Routed rows and the per-sink counts both equal the input rows."""
    from pyspark.sql import functions as F

    read = ctx.spark.read.parquet
    routed = read(os.path.join(work, "routed")).count()
    res.check(routed == CLP_ROWS,
              f"routed rows {routed} != input rows {CLP_ROWS}")
    sinks = (read(os.path.join(work, "agg_sink_counts"))
             .agg(F.sum("n_rows")).first()[0])
    res.check(sinks == CLP_ROWS, f"sum(agg_sink_counts) {sinks} != {CLP_ROWS}")


def _check_decode_sample(ctx: Ctx, res: Result, work: str,
                         expected: dict[str, str]) -> None:
    """The seeded sample decodes back to its detokenized corpus lines
    (timestamp re-inserted, as decompression returns them)."""
    from pyspark.sql import functions as F

    from clpspark.sources.reconstruct import reconstruct_text

    read = ctx.spark.read.parquet
    events = read(os.path.join(work, "routed")).where(
        F.col("doc_id").isin(list(expected)))
    got = {
        r["doc_id"]: r["line"]
        for r in reconstruct_text(
            events, read(os.path.join(work, "var_dict")),
            logtype_dict=read(os.path.join(work, "logtype_dict")),
        ).collect()
    }
    bad = [d for d, line in expected.items() if got.get(d) != line]
    res.check(not bad, f"{len(bad)} of {len(expected)} sampled rows decode "
                       f"wrong, first {bad[:3]}")


def _replay_pipeline(ctx: Ctx, tracer: Tracer, corpus: str, work: str) -> None:
    """run_pipeline's two-pass, snapshot-on path, one stage function per
    span. Stages the pipeline overlaps on thread pools run one after another
    here so each span owns its jobs; the overlap, orchestration and lineage
    commits show in pipeline.residual_s."""
    from clpspark.corpus import build_vocab
    from clpspark.operators import aggregate as agg
    from clpspark.operators.enrich import (
        build_logtype_dict,
        build_var_dict,
        enrich,
    )
    from clpspark.operators.parse import parse_sequences
    from clpspark.operators.route import route
    from clpspark.operators.util import rebalance_for_udf
    from clpspark.snapshots import (
        collect_file_stats_and_var_index,
        snapshot_pipeline_tables,
    )

    spark = ctx.spark
    cfg = pipeline_config(corpus, work, ctx.seed)
    zstd = {"parquet.compression.codec.zstd.level": str(cfg.compression_level)}

    def write(df, name):
        df.write.options(**zstd).mode("overwrite").parquet(cfg.path(name))

    spill = cfg.path("_parsed_twopass")
    with tracer.span("parse"):
        vocab = build_vocab(cfg.vocab_seed).vocab
        parsed = parse_sequences(
            rebalance_for_udf(spark.read.parquet(corpus)), vocab)
        parsed.write.option("compression", "snappy").mode(
            "overwrite").parquet(spill)
        parsed = spark.read.parquet(spill)
    with tracer.span("enrich.dicts") as sp:
        write(build_logtype_dict(parsed), "logtype_dict")
        write(build_var_dict(parsed), "var_dict")
        sp.attrs["n_logtypes"] = spark.read.parquet(
            cfg.path("logtype_dict")).count()
        sp.attrs["n_vars"] = spark.read.parquet(cfg.path("var_dict")).count()
    with tracer.span("route"):
        lt = spark.read.parquet(cfg.path("logtype_dict"))
        vd = spark.read.parquet(cfg.path("var_dict"))
        route(enrich(parsed, lt, vd, mode=cfg.enrich_mode), cfg.path("routed"),
              salt=cfg.route_salt,
              sink_counts=lt.select("logtype_id", "n_rows"),
              write_options=zstd)
    with tracer.span("snapshots.stats"):
        stats, var_index = collect_file_stats_and_var_index(
            spark.read.parquet(cfg.path("routed")), work)
        write(var_index, "var_index")
    shutil.rmtree(spill, ignore_errors=True)
    with tracer.span("aggregate"):
        routed = spark.read.parquet(cfg.path("routed"))
        write(agg.per_sink_counts(routed), "agg_sink_counts")
        write(agg.per_source_token_stats(routed), "agg_source_stats")
        write(agg.count_by_time(routed, cfg.bucket_ms, group_cols=("source",)),
              "agg_by_time")
    with tracer.span("snapshots.commit"):
        snapshot_pipeline_tables(spark, work, routed_stats=stats)


# ====================================================================== curate

# (query in __spark_entry__.queries(), layer span it is traced as)
CURATE_OPS = [
    ("docs_text_stats", "text.profile"),
    ("docs_exact_dedup", "dedup.exact"),
    ("docs_minhash_pairs", "dedup.minhash"),
    ("docs_ngram_jaccard", "dedup.ngram_jaccard"),
    ("docs_dedup_keep", "dedup.keep"),
    ("docs_top_ngrams", "curate.top_ngrams"),
    ("docs_decontaminate", "curate.decontaminate"),
]


@dataclass
class CurateInputs:
    sf_dir: str
    answers: oracle.CurateAnswers


def documents_fixture(ctx: Ctx) -> str:
    """Directory holding a seeded subset of the documents table as
    ``documents.parquet`` (one row group, like the source table)."""
    import pyarrow.parquet as pq

    table = pq.read_table(DOCUMENTS)
    rng = np.random.default_rng(ctx.seed)
    keep = np.sort(rng.choice(table.num_rows,
                              int(table.num_rows * CURATE_SHARE),
                              replace=False))
    out_dir = os.path.join(ctx.run_dir, "docs")
    os.makedirs(out_dir)
    pq.write_table(table.take(keep), os.path.join(out_dir, "documents.parquet"),
                   row_group_size=table.num_rows)
    return out_dir


def curate_prepare(ctx: Ctx) -> CurateInputs:
    sf_dir = documents_fixture(ctx)
    return CurateInputs(sf_dir, oracle.curate_answers(
        sf_dir, [n for n, _ in CURATE_OPS]))


def curate_run(ctx: Ctx, inp: CurateInputs) -> Result:
    import __spark_entry__ as entry

    res = Result()
    qs = entry.queries()
    res.setup_s = time.perf_counter() - ctx.setup_t0
    passes: list[list[tuple]] = []

    def one_pass(tracer) -> float:
        recs = []
        for name, layer in CURATE_OPS:
            with tracer.span(layer):
                t0 = time.perf_counter()
                out = res.guard(name, _collect, qs[name], ctx.spark,
                                inp.sf_dir)
                recs.append((name, time.perf_counter() - t0, out))
        passes.append(recs)
        print(f"curate pass {len(passes)}: "
              + ", ".join(f"{n} {dt:.3f} s" for n, dt, _ in recs),
              file=sys.stderr)
        for name, _, out in recs:
            if out is not None:
                _check_curate(res, name, out, inp)
        return sum(dt for _, dt, _ in recs)

    with PeakRss() as rss:
        _timed_loop(ctx, one_pass)
    res.peak_rss_mb = rss.peak_mb
    res.named["peak_rss_mb"] = (rss.peak_mb, "MB")
    walls = [sum(dt for _, dt, _ in recs) for recs in passes]
    res.items, res.items_s = inp.answers.n_docs * len(passes), sum(walls)
    res.ops, res.ops_s = len(CURATE_OPS) * len(passes), sum(walls)
    res.named["curate_s"] = (median(walls), "s")
    if ctx.trace:
        passes.clear()
        _trace_phases(ctx, res, one_pass)
        res.untraced = {layer: dt for (_, layer), (_, dt, _)
                        in zip(CURATE_OPS, passes[1])}
    return res


def _collect(query, spark, sf_dir):
    df = query(spark, sf_dir)
    return df.columns, [tuple(r) for r in df.collect()]


def _check_curate(res: Result, name: str, out, inp: CurateInputs) -> None:
    cols, rows = out
    if name == "docs_minhash_pairs":
        bad = oracle.minhash_violations(cols, rows, inp.sf_dir)
        res.check(not bad, f"{name}: {len(bad)} pairs are not exact pairs "
                           f"at the threshold, first {bad[:3]}")
    else:
        same = (oracle.same_text_stats if name == "docs_text_stats"
                else oracle.same_rowset)
        res.check(same(cols, rows, *inp.answers.rows[name]),
                  f"{name}: differs from its DuckDB oracle")


WORKLOADS = {
    "clp": (clp_prepare, clp_run),
    "curate": (curate_prepare, curate_run),
}
