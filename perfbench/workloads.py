"""The benchmark's three workloads: ``build``, ``serve`` and ``refresh``.

Each workload sets up outside the timed region, then runs a closed loop
(one client, the next operation only after the previous one returned), then
checks the program's outputs, again outside the timed region. ``serve``
runs until ``--seconds`` have passed; the batch workloads ``build`` and
``refresh`` make a fixed number of operations, so how much work a run
measures does not depend on how fast the engine is. Every attempted
operation is counted; one that raises counts as failed and as missing
every latency limit.

In a traced run odd-numbered operations are traced and even-numbered ones
are not, so the same run gives the per-layer numbers (from the traced
operations) and the tracing overhead (traced against untraced latency).
It makes at least three operations, untraced, traced, untraced, so a trend
from the warm-up still going on cancels out of the overhead.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pyarrow.dataset as pads

from flume_elasticsearch_2_spark.operators import topk
from flume_elasticsearch_2_spark.plans import build_index, merge, pipeline, query_index
from flume_elasticsearch_2_spark.plans.query_index import IndexSearcher

from . import inputs
from .tracing import StageMetrics, Tracer, self_times, total_times

N_SHARDS = 4
K = 10

BUILD_ROWS = 6_000
BUILD_WARM_ROWS = 1_000  # a small warm-up build starts the workers and most JIT
BUILD_OPS = 2
SERVE_ROWS = 8_000
SERVE_POOL = 400
SERVE_WARM_QUERIES = 20
SERVE_CHECK_PER_SHAPE = 10  # timed answers vs exhaustive, per (mode, term count)
SERVE_CHECK_REFERENCE = 2  # of those, also against the DataFrame engine
REFRESH_BASE_ROWS = 5_000
REFRESH_FRESH = 800  # new pages per generation
REFRESH_RECRAWL = 200  # re-crawled live urls per generation
REFRESH_GEN_ROWS = 1_100  # generator rows per generation (dup urls dropped)
REFRESH_MAX_GENS = 24  # sizes the pinned id space; a run stops before it
REFRESH_BATCH = 50  # queries per search_many batch
REFRESH_CYCLES = 2  # timed cycles per run, whatever their speed

# a failed operation misses every latency limit: it enters the percentiles
# as this latency instead of shrinking the sample
LIMIT_MISSED_S = 1e6


@dataclass
class Op:
    request: str
    latency_s: float
    traced: bool
    ok: bool
    value: Any = None


@dataclass
class Outcome:
    """What a workload hands back to the runner."""

    ops: list[Op]
    setup_s: float
    work_per_op: Callable[[Op], float]
    index_bytes_per_doc: float
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    extra: dict[str, tuple[float, str]] = field(default_factory=dict)
    per_layer: dict[str, float] = field(default_factory=dict)


@dataclass
class Context:
    spark: Any
    work_dir: str
    seed: int
    seconds: float
    t_start: float  # perf_counter() at process start: set-up is timed from it
    tracer: Tracer | None
    peak_memory: Any

    @property
    def traced(self) -> bool:
        return self.tracer is not None


def closed_loop(
    ctx: Context,
    op: Callable[[int, Any], Any],
    prepare: Callable[[int], Any] = lambda i: None,
    after: Callable[[int, Any, Op], None] = lambda i, arg, rec: None,
    n_ops: int | None = None,
) -> list[Op]:
    """Run ``op`` back to back: exactly ``n_ops`` times when given, else
    until ``ctx.seconds`` have passed. A traced run makes at least three.
    Only ``op`` is timed; ``prepare`` (its inputs) and ``after`` (checks and
    clean-up) run outside the timing."""
    min_ops = 3 if ctx.traced else 1
    if n_ops is not None:
        min_ops = max(min_ops, n_ops)
    ops: list[Op] = []
    ctx.peak_memory.start()
    deadline = time.perf_counter() + ctx.seconds
    i = 0
    while i < min_ops or (n_ops is None and time.perf_counter() < deadline):
        arg = prepare(i)
        traced = ctx.traced and i % 2 == 1
        request = f"op{i}"
        if ctx.tracer is not None:
            ctx.tracer.active, ctx.tracer.request = traced, request
        t0 = time.perf_counter()
        try:
            value, ok = op(i, arg), True
        except Exception:  # a failed operation is counted, never dropped
            traceback.print_exc(file=sys.stderr)
            value, ok = None, False
        latency = time.perf_counter() - t0
        if ctx.tracer is not None:
            ctx.tracer.active = False
        rec = Op(request, latency, traced, ok, value)
        ops.append(rec)
        after(i, arg, rec)
        i += 1
    ctx.peak_memory.stop()
    return ops


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def codec_bytes_per_posting(index_dir: str) -> float:
    """Compressed doc-id plus tf bytes per posting of a written index."""
    tbl = pads.dataset(f"{index_dir}/postings", format="parquet", partitioning="hive").to_table(
        columns=["n", "doc_bytes", "tf_bytes"]
    )
    n = sum(tbl["n"].to_pylist())
    payload = sum(len(b) for col in ("doc_bytes", "tf_bytes") for b in tbl[col].to_pylist())
    return payload / max(n, 1)


def _traced_requests(ops: list[Op]) -> set[str]:
    return {o.request for o in ops if o.traced and o.ok}


def _mean_attr(spans: list[dict], name: str, attr: str) -> float:
    vals = [s["attrs"][attr] for s in spans if s["name"] == name and attr in s["attrs"]]
    return float(np.mean(vals)) if vals else 0.0


def _per_span(spans: list[dict], name: str, seconds: dict[str, float]) -> float:
    n = sum(1 for s in spans if s["name"] == name)
    return seconds.get(name, 0.0) / n if n else 0.0


def layer_metrics(ctx: Context, ops: list[Op]) -> dict[str, float]:
    """Per-layer numbers from the spans of the traced, successful operations.
    A layer the workload never enters reads 0."""
    tracer = ctx.tracer
    spans = tracer.spans_of(_traced_requests(ops))
    total = total_times(spans)
    own = self_times(spans, tracer.spans)
    n_queries = sum(1 for s in spans if s["name"] == "query_index.IndexSearcher.search_local")

    def per_query(value: float) -> float:
        return value / n_queries if n_queries else 0.0

    # generation builds are called by the benchmark itself; the pipeline's
    # build_segments_partial call sits under index_webpages
    gen_builds = [
        s for s in spans if s["name"] == "build_index.build_segments_partial" and s["parent"] is None
    ]
    reads = [s for s in spans if s["name"] == "query_index._read_shard_tables"]
    return {
        "pipeline.prepare_s": _per_span(spans, "pipeline.index_webpages", own),
        "build_index.segments_s": _per_span(spans, "build_index.build_segments_partial", total),
        "build_index.shuffle_write_bytes": _mean_attr(
            spans, "build_index.build_segments_partial", "shuffle_write_bytes"
        ),
        "pipeline.dedup_dropped": _mean_attr(spans, "pipeline.index_webpages", "dedup_dropped"),
        "build_index.n_postings": _mean_attr(spans, "build_index.build_segments_partial", "n_postings"),
        "query_index.meta_ms": per_query(1e3 * total.get("query_index.IndexSearcher._query_meta", 0.0)),
        "query_index.read_ms": per_query(1e3 * total.get("query_index._read_shard_tables", 0.0)),
        "query_index.score_ms": per_query(1e3 * total.get("query_index._score_shard", 0.0)),
        "query_index.gather_ms": per_query(1e3 * own.get("query_index.IndexSearcher.search_local", 0.0)),
        "query_index.shards_per_query": per_query(len(reads)),
        "query_index.read_bytes_per_query": per_query(sum(s["attrs"]["bytes"] for s in reads)),
        "build_index.gen_build_s": (
            float(np.mean([s["end"] - s["start"] for s in gen_builds])) if gen_builds else 0.0
        ),
        "merge.merge_s": _per_span(spans, "merge.merge_indexes", total),
        "merge.tombstones": _mean_attr(spans, "merge.merge_indexes", "tombstones"),
        "query_index.batch_s": _per_span(spans, "query_index.IndexSearcher.search_many", total),
    }


def overhead_pct(ops: list[Op]) -> float:
    """Median traced latency over median untraced latency, as a percentage
    above 1."""
    traced = [o.latency_s for o in ops if o.ok and o.traced]
    plain = [o.latency_s for o in ops if o.ok and not o.traced]
    if not traced or not plain:
        return 0.0
    return (float(np.median(traced)) / float(np.median(plain)) - 1.0) * 100.0


def install_tracing(ctx: Context) -> None:
    """Wrap the public entry points of the three layers, plus the read and
    scoring kernels of the serving path."""
    tracer = ctx.tracer
    stages = StageMetrics(ctx.spark)

    def reset_stages(attrs: dict, args: tuple) -> None:
        with tracer.span("trace.stage_metrics"):
            stages.shuffle_write_bytes_since_last()

    def on_segments(attrs: dict, args: tuple, out: dict) -> None:
        with tracer.span("trace.stage_metrics"):
            attrs["shuffle_write_bytes"] = stages.shuffle_write_bytes_since_last()
        attrs["n_postings"] = int(sum(out["postings_per_shard"]))

    def on_index(attrs: dict, args: tuple, out: dict) -> None:
        attrs["dedup_dropped"] = int(out["metrics"]["SOURCE.webpages"]["DedupDroppedCount"])

    def on_merge(attrs: dict, args: tuple, out: dict) -> None:
        attrs["tombstones"] = int(out["tombstoned_docs"])

    def on_read(attrs: dict, args: tuple, out: tuple) -> None:
        postings, docs = out
        attrs["bytes"] = int(
            sum(len(b) for c in ("doc_bytes", "tf_bytes") for b in postings[c])
            + docs.memory_usage(index=False).sum()
        )

    tracer.wrap(pipeline, "index_webpages", "pipeline.index_webpages", observe=on_index)
    # the pipeline holds its own reference to build_segments_partial
    for owner in (build_index, pipeline):
        tracer.wrap(
            owner, "build_segments_partial", "build_index.build_segments_partial",
            observe=on_segments, enter=reset_stages,
        )
    tracer.wrap(merge, "merge_indexes", "merge.merge_indexes", observe=on_merge)
    tracer.wrap(IndexSearcher, "search_local", "query_index.IndexSearcher.search_local")
    tracer.wrap(IndexSearcher, "search_many", "query_index.IndexSearcher.search_many")
    tracer.wrap(IndexSearcher, "_query_meta", "query_index.IndexSearcher._query_meta")
    tracer.wrap(query_index, "_read_shard_tables", "query_index._read_shard_tables", observe=on_read)
    tracer.wrap(query_index, "_score_shard", "query_index._score_shard")


def _setup_done(ctx: Context) -> float:
    return log(ctx, "set-up done")


def log(ctx: Context, what: str) -> float:
    """Note a phase on stderr with the seconds since process start."""
    t = time.perf_counter() - ctx.t_start
    print(f"[perfbench {t:7.2f} s] {what}", file=sys.stderr, flush=True)
    return t


# --------------------------------------------------------------------- build


def run_build(ctx: Context) -> Outcome:
    """Batch re-index: ``index_webpages`` over one seeded webpages parquet,
    again and again. A warm-up build of the input's first rows, in set-up,
    pays worker start-up and most of the JIT."""
    spark, work = ctx.spark, ctx.work_dir
    for name, rows in (("warm", BUILD_WARM_ROWS), ("pages", BUILD_ROWS)):
        inputs.write_parquet(inputs.pages(ctx.seed, 0, rows), f"{work}/{name}.parquet")
    log(ctx, "inputs written")
    checks: list[tuple[str, bool, str]] = []

    warm = pipeline.index_webpages(
        spark, spark.read.parquet(f"{work}/warm.parquet"), f"{work}/warm", n_shards=N_SHARDS
    )
    want = BUILD_WARM_ROWS - inputs.n_duplicate_rows(ctx.seed, 0, BUILD_WARM_ROWS)
    checks.append(_check_n_docs("warm-up build", warm["n_docs"], want))
    shutil.rmtree(f"{work}/warm")
    expected_docs = BUILD_ROWS - inputs.n_duplicate_rows(ctx.seed, 0, BUILD_ROWS)
    pages_df = spark.read.parquet(f"{work}/pages.parquet")
    setup_s = _setup_done(ctx)

    sizes: list[float] = []
    bytes_per_posting: list[float] = []

    def op(i: int, _: Any) -> dict:
        return pipeline.index_webpages(spark, pages_df, f"{work}/idx{i}", n_shards=N_SHARDS)

    def after(i: int, _: Any, rec: Op) -> None:
        idx = f"{work}/idx{i}"
        if rec.ok:
            n_docs = rec.value["n_docs"]
            checks.append(_check_n_docs(f"build {i}", n_docs, expected_docs))
            sizes.append(dir_bytes(idx) / max(n_docs, 1))
            if rec.traced:
                bytes_per_posting.append(codec_bytes_per_posting(idx))
        shutil.rmtree(idx, ignore_errors=True)
        shutil.rmtree(idx + ".tmp", ignore_errors=True)

    # two builds per run halve what a burst of load from other tenants of
    # the machine does to the run's figure
    ops = closed_loop(ctx, op, after=after, n_ops=BUILD_OPS)
    checks.append(_check_some_succeeded("build", ops))
    out = Outcome(
        ops=ops,
        setup_s=setup_s,
        work_per_op=lambda o: o.value["n_docs"],
        index_bytes_per_doc=float(np.median(sizes)) if sizes else 0.0,
        checks=checks,
    )
    if ctx.traced:
        out.per_layer = layer_metrics(ctx, ops)
        out.per_layer["codec.bytes_per_posting"] = float(np.mean(bytes_per_posting)) if bytes_per_posting else 0.0
    return out


def _check_n_docs(what: str, got: int, want: int) -> tuple[str, bool, str]:
    return (f"{what}: n_docs", got == want, f"got {got}, want {want}")


def _check_some_succeeded(what: str, ops: list[Op]) -> tuple[str, bool, str]:
    """The per-operation checks only see operations that returned: a run in
    which none did has checked nothing and fails."""
    n_ok = sum(1 for o in ops if o.ok)
    return (f"{what}: a timed operation succeeded", n_ok > 0, f"{n_ok} of {len(ops)}")


# --------------------------------------------------------------------- serve


def unique_pages(seed: int, lo: int, hi: int, first_id: int):
    """Generated rows ``[lo, hi)`` with duplicate urls dropped, as
    (url, text, doc_id) with consecutive doc ids from ``first_id``."""
    rows = inputs.pages(seed, lo, hi).drop_duplicates("url")[["url", "text"]]
    rows = rows.reset_index(drop=True)
    rows["doc_id"] = np.arange(first_id, first_id + len(rows), dtype=np.int64)
    return rows


def build_generation(ctx: Context, rows, index_dir: str, id_space: int | None = None) -> dict:
    """Index (url, text, doc_id) rows with ``build_segments_partial``; the
    docs table keeps the url, the key a merge dedups on."""
    df = ctx.spark.createDataFrame(rows, "url string, text string, doc_id long")
    return build_index.build_segments_partial(
        ctx.spark, df, index_dir, N_SHARDS, orig_ids=df.select("doc_id", "url"), id_space=id_space
    )


def _rows(df) -> list[tuple[int, float]]:
    return [(int(d), float(s)) for d, s in zip(df["doc_id"], df["score"])]


def _same_topk(a: list[tuple[int, float]], b: list[tuple[int, float]]) -> bool:
    """Same doc ids in the same order, scores equal to the 6 decimals both
    engines round to."""
    return [d for d, _ in a] == [d for d, _ in b] and all(
        abs(x - y) <= 1e-6 for (_, x), (_, y) in zip(a, b)
    )


def run_serve(ctx: Context) -> Outcome:
    """One client calling ``IndexSearcher.search_local`` back to back on an
    index built in set-up, with a seeded Zipfian query stream."""
    spark = ctx.spark
    corpus = unique_pages(ctx.seed, 0, SERVE_ROWS, 0)
    index_dir = f"{ctx.work_dir}/index"
    build_generation(ctx, corpus, index_dir)
    log(ctx, "index built")

    rng = inputs.rng(ctx.seed)
    pool = inputs.query_pool(inputs.term_bands(index_dir), SERVE_POOL)
    warm = inputs.query_stream(pool, SERVE_WARM_QUERIES, rng)
    stream = inputs.query_stream(pool, 100_000, rng)
    searcher = IndexSearcher(spark, index_dir)
    for q in warm:
        searcher.search_local(q.text, k=K, mode=q.mode)
    setup_s = _setup_done(ctx)

    def op(i: int, _: Any):
        q = stream[i]
        return searcher.search_local(q.text, k=K, mode=q.mode)

    ops = closed_loop(ctx, op)
    log(ctx, "measured")

    # correctness: for a seeded sample of every query shape, the top-k the
    # timed (pruned) calls returned equals the exhaustive kernel's; a few
    # also equal the independent DataFrame engine's
    answered: dict[inputs.Query, list[tuple[int, float]]] = {}
    for i, rec in enumerate(ops):
        if rec.ok:
            answered.setdefault(stream[i], _rows(rec.value))
    sample = check_sample(list(answered), rng)
    checks = [_check_exhaustive(searcher, q, answered[q]) for q in sample]
    log(ctx, "checked against the exhaustive kernel")
    docs_df = spark.createDataFrame(corpus[["doc_id", "text"]], "doc_id long, text string").cache()
    checks += [_check_reference(docs_df, q, answered[q]) for q in sample[:SERVE_CHECK_REFERENCE]]
    docs_df.unpersist()
    log(ctx, "checked against bm25_topk")

    out = Outcome(
        ops=ops,
        setup_s=setup_s,
        work_per_op=lambda o: 1.0,
        index_bytes_per_doc=dir_bytes(index_dir) / searcher.n_docs,
        checks=checks,
    )
    if ctx.traced:
        out.per_layer = layer_metrics(ctx, ops)
        out.per_layer["codec.bytes_per_posting"] = codec_bytes_per_posting(index_dir)
    return out


def check_sample(queries: list[inputs.Query], rng: np.random.Generator) -> list[inputs.Query]:
    """Up to ``SERVE_CHECK_PER_SHAPE`` of the queries of each shape (OR with
    1-3 terms, AND with 2-3) whose terms are all in the index, interleaved
    so the first few cover different shapes."""
    shapes: dict[tuple[str, int], list[inputs.Query]] = {}
    for q in queries:
        if "absent" not in q.text:
            shapes.setdefault((q.mode, len(q.text.split())), []).append(q)
    drawn = []
    for key in sorted(shapes, key=lambda shape: (shape[1], shape[0])):
        group = shapes[key]
        picks = rng.choice(len(group), size=min(SERVE_CHECK_PER_SHAPE, len(group)), replace=False)
        drawn.append([group[int(j)] for j in picks])
    return [g[j] for j in range(SERVE_CHECK_PER_SHAPE) for g in drawn if j < len(g)]


def _check_exhaustive(searcher: IndexSearcher, q: inputs.Query, timed: list[tuple[int, float]]):
    try:
        full = _rows(searcher.search_local(q.text, k=K, mode=q.mode, pruned=False))
        ok, detail = _same_topk(timed, full), f"timed={timed} exhaustive={full}"
    except Exception as exc:
        ok, detail = False, repr(exc)
    name = f"top-{K} {q.mode} {q.text!r}: timed (pruned) = exhaustive"
    return (name, ok, f"{len(timed)} hits" if ok else detail)


def _check_reference(docs_df, q: inputs.Query, timed: list[tuple[int, float]]):
    try:
        ref = [
            (int(r["doc_id"]), float(r["score"]))
            for r in topk.bm25_topk(docs_df, q.text, k=K, mode=q.mode).collect()
        ]
        ok, detail = _same_topk(timed, ref), f"timed={timed} bm25_topk={ref}"
    except Exception as exc:
        ok, detail = False, repr(exc)
    name = f"top-{K} {q.mode} {q.text!r}: timed (pruned) = bm25_topk"
    return (name, ok, f"{len(timed)} hits" if ok else detail)


# ------------------------------------------------------------------- refresh


@dataclass
class _Generation:
    no: int
    rows: Any  # pandas (url, text, doc_id)
    fresh_urls: list[str]
    queries: dict[str, tuple[str, str]]


def run_refresh(ctx: Context) -> Outcome:
    """Cycles of generation build, merge into the live index and one batched
    ``search_many`` over the fresh index, on a base index built in set-up.
    Each generation holds fresh pages plus re-crawls of live urls."""
    spark, work = ctx.spark, ctx.work_dir
    rng = inputs.rng(ctx.seed)
    base = unique_pages(ctx.seed, 0, REFRESH_BASE_ROWS, 0)
    gen_docs = REFRESH_FRESH + REFRESH_RECRAWL
    # pinned so every generation shares the base's sharding and merges per
    # (shard, term)
    id_space = len(base) + REFRESH_MAX_GENS * gen_docs
    live = {"dir": f"{work}/live", "urls": base["url"].tolist(), "n_docs": len(base)}
    counters = {"gen": 0, "next_id": len(base)}

    build_generation(ctx, base, live["dir"], id_space)
    log(ctx, "base index built")
    pool = inputs.query_pool(inputs.term_bands(live["dir"]), SERVE_POOL)
    checks: list[tuple[str, bool, str]] = []
    amplification: list[float] = []

    def prepare(_: int) -> _Generation:
        g = counters["gen"]
        if g == REFRESH_MAX_GENS:
            raise RuntimeError(f"more than {REFRESH_MAX_GENS} generations: raise REFRESH_MAX_GENS")
        lo = REFRESH_BASE_ROWS + g * REFRESH_GEN_ROWS
        rows = unique_pages(ctx.seed, lo, lo + REFRESH_GEN_ROWS, counters["next_id"]).head(gen_docs)
        recrawled = rng.choice(len(live["urls"]), size=REFRESH_RECRAWL, replace=False)
        rows.loc[REFRESH_FRESH:, "url"] = [live["urls"][int(j)] for j in recrawled]
        counters["gen"] += 1
        counters["next_id"] += gen_docs
        batch = inputs.query_stream(pool, REFRESH_BATCH, rng)
        return _Generation(
            no=g,
            rows=rows,
            fresh_urls=rows["url"].iloc[:REFRESH_FRESH].tolist(),
            queries={f"q{j:03d}": (q.text, q.mode) for j, q in enumerate(batch)},
        )

    def gen_dirs(gen: _Generation) -> tuple[str, str]:
        return f"{work}/gen{gen.no}", f"{work}/live{gen.no}"

    def cycle(_: int, gen: _Generation) -> dict:
        gen_dir, new_live = gen_dirs(gen)
        t0 = time.perf_counter()
        built = build_generation(ctx, gen.rows, gen_dir, id_space)
        merged = merge.merge_indexes(spark, [live["dir"], gen_dir], new_live, dedup_key="url")
        t1 = time.perf_counter()
        rows = IndexSearcher(spark, new_live).search_many(gen.queries, k=K).collect()
        return {
            "gen_docs": built["n_docs"], "merged": merged, "rows": rows,
            "refresh_s": t1 - t0, "batch_s": time.perf_counter() - t1,
        }

    def after(i: int, gen: _Generation, rec: Op) -> None:
        gen_dir, new_live = gen_dirs(gen)
        log(ctx, f"cycle {i} done")
        if rec.ok:
            live["n_docs"] += len(gen.fresh_urls)
            checks.append(_check_n_docs(f"cycle {i} merge", rec.value["merged"]["n_docs"], live["n_docs"]))
            checks.append(_check_batch(spark, i, new_live, rec.value["rows"], gen.queries))
            if rec.traced:
                amplification.append(
                    dir_bytes(f"{new_live}/postings") / dir_bytes(f"{gen_dir}/postings")
                )
            log(ctx, f"cycle {i} checked")
            shutil.rmtree(live["dir"])
            live["dir"] = new_live
            live["urls"] += gen.fresh_urls
        for d in (gen_dir, gen_dir + ".tmp", new_live + ".tmp") + (() if rec.ok else (new_live,)):
            shutil.rmtree(d, ignore_errors=True)

    # the base build is the warm-up: the first timed cycle also pays the
    # merge's and the query job's one-time start-up, the same in every run
    setup_s = _setup_done(ctx)

    ops = closed_loop(ctx, cycle, prepare=prepare, after=after, n_ops=REFRESH_CYCLES)
    checks.append(_check_some_succeeded("refresh", ops))
    ok_ops = [o for o in ops if o.ok]
    refresh_s = sum(o.value["refresh_s"] for o in ok_ops)
    batch_s = sum(o.value["batch_s"] for o in ok_ops)
    out = Outcome(
        ops=ops,
        setup_s=setup_s,
        work_per_op=lambda o: o.value["gen_docs"],
        index_bytes_per_doc=dir_bytes(live["dir"]) / live["n_docs"],
        checks=checks,
        extra={
            "refresh_docs_per_s": (
                sum(o.value["gen_docs"] for o in ok_ops) / refresh_s if refresh_s else 0.0, "1/s"
            ),
            "batch_qps": (REFRESH_BATCH * len(ok_ops) / batch_s if batch_s else 0.0, "1/s"),
        },
    )
    if ctx.traced:
        out.per_layer = layer_metrics(ctx, ops)
        out.per_layer["codec.bytes_per_posting"] = codec_bytes_per_posting(live["dir"])
        out.per_layer["merge.write_amplification"] = (
            float(np.mean(amplification)) if amplification else 0.0
        )
    return out


def _check_batch(spark, i: int, index_dir: str, rows: list, queries: dict) -> tuple[str, bool, str]:
    """Every ``search_many`` query equals ``search_local`` on the same index."""
    searcher = IndexSearcher(spark, index_dir)
    got: dict[str, list[tuple[int, float]]] = {}
    for qid, doc_id, score in rows:
        got.setdefault(qid, []).append((int(doc_id), float(score)))
    differ = [
        qid
        for qid, (text, mode) in queries.items()
        if not _same_topk(got.get(qid, []), _rows(searcher.search_local(text, k=K, mode=mode)))
    ]
    return (
        f"cycle {i}: search_many equals search_local",
        not differ,
        f"{len(queries)} queries, {len(differ)} differ {differ[:5]}",
    )


WORKLOADS = {"build": run_build, "serve": run_serve, "refresh": run_refresh}
