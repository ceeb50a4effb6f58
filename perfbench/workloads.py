"""The benchmark's workloads, each driving the engine's public API.

A workload stages its seeded inputs and warms up (:meth:`Workload.stage`,
:meth:`Workload.warm`), then serves one closed-loop operation per
:meth:`Workload.op` call and checks the answer.
In a traced run, :meth:`instrument` wraps the entry points of the layers
the workload exercises and :meth:`layer_metrics` reads the per-layer
numbers back from the spans.
"""

from __future__ import annotations

import math
import os
import random
import re
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import kenshin_backup_spark.api as api_mod
import kenshin_backup_spark.cache as cache_mod
import kenshin_backup_spark.render as render_mod
import kenshin_backup_spark.streaming.ingest as ingest_mod
from kenshin_backup_spark.api import Engine
from kenshin_backup_spark.cache import clear_tracked
from kenshin_backup_spark.operators.dedup import (
    connected_components_star,
    exact_dedup,
    ngram_jaccard_pairs,
)
from kenshin_backup_spark.operators.policies import Policy
from kenshin_backup_spark.operators.rollup import rollup_partials
from kenshin_backup_spark.operators.similarity import cosine_topk, srp_topk
from kenshin_backup_spark.operators.textops import quality_features
from kenshin_backup_spark.streaming.ingest import (
    parse_graphite_lines,
    streaming_rollup,
    write_rollup_sink,
)

from perfbench import gen
from perfbench.trace import JobCounter, Tracer

STEPS = (60, 600, 3600)
#: two storage schemas, first match wins: cpu series average, the rest sum
POLICIES = [
    Policy(name="cpu", pattern=r"^srv\d+\.cpu\d+\.", steps=STEPS, agg="average"),
    Policy(name="other", pattern=".*", steps=STEPS, agg="sum"),
]
METRIC_BUCKETS = 4
#: ``op_ms_tail`` percentile. A run holds 3 to 10 samples, too few for a
#: percentile with ten samples beyond it, so this is the run's slow end.
TAIL_PCT = 90


@dataclass
class Ctx:
    spark: object
    seed: int
    workdir: str
    tracer: Tracer


@dataclass
class Op:
    items: int
    ok: bool
    #: latency samples (ms) this operation contributes to ``op_ms_*``
    samples_ms: list[float]
    wall_s: float
    #: per-layer counts of a traced operation
    counts: dict[str, float] = field(default_factory=dict)


def pct(values: list[float], p: int) -> float:
    """``p``-th percentile (inclusive method); the median for ``p=50``."""
    if not values:
        return 0.0
    if p == 50 or len(values) < 2:
        return statistics.median(values)
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def dir_stats(root: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``root``."""
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def ladder_layout(store: str, points: int) -> dict[str, float]:
    """Per-step file counts and stored bytes per written point."""
    out: dict[str, float] = {}
    for step in STEPS:
        files = size = 0
        for p in POLICIES:
            f, s = dir_stats(f"{store}/policy={p.name}/step={step}")
            files += f
            size += s
        out[f"ladder.files.{step}"] = files
        out[f"ladder.bytes_per_point.{step}"] = size / points
    return out


class Workload:
    """Set-up is split in two: :meth:`stage` (inputs and expected answers)
    runs several times so ``setup_s`` can report its median, :meth:`warm`
    (any store the program builds, first passes of the code paths) runs
    once. ``cycle`` operations make one fixed-composition round of
    the workload's mix; a run measures whole rounds."""

    name = ""
    cycle = 1

    def __init__(self, ctx: Ctx, size: dict) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.size = size
        self.jobs = JobCounter(self.spark.sparkContext)
        #: checks made (and failed) during set-up; they count as operations
        self.setup_checks = 0
        self.setup_failures = 0
        #: self-test only: the next check compares against a wrong answer
        self.inject_wrong = False

    def wrong(self) -> bool:
        """True for the first check after :attr:`inject_wrong` is set."""
        hit, self.inject_wrong = self.inject_wrong, False
        return hit

    def inputs(self) -> random.Random:
        """The input generator: a function of the seed and workload alone,
        so every set-up repetition stages identical inputs."""
        return random.Random(f"{self.ctx.seed}-{self.name}")

    def stage(self, rep: int) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> Op:
        raise NotImplementedError

    def instrument(self, t: Tracer) -> None:
        pass

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        return {}


# -- stream ingest ----------------------------------------------------------------


class StreamIngest(Workload):
    """Graphite line files through parse → windowed rollup → merge-upsert
    sink, one file per micro-batch (``maxFilesPerTrigger=1``,
    ``availableNow``). Each operation drains the whole backlog into a
    fresh sink and checkpoint."""

    name = "stream_ingest"
    STEP = 60
    WATERMARK = "10 minutes"

    def stage(self, rep: int) -> None:
        sz = self.size
        self.dir = f"{self.ctx.workdir}/stream-{rep}"
        rng = self.inputs()
        self.feed = gen.line_feed(
            rng,
            hosts=sz["hosts"],
            cpus=sz["cpus"],
            files=sz["files"],
            lines_per_file=sz["lines_per_file"],
            minutes_per_file=sz["minutes_per_file"],
            malformed_share=0.02,
            late_share=0.02,
            ooo_share=0.05,
        )
        self.src = f"{self.dir}/src"
        gen.write_feed(self.feed, self.src)
        self.warm_src = f"{self.dir}/warm-src"
        gen.write_feed(gen.LineFeed(files=self.feed.files[:2], kept=[]), self.warm_src)
        self.rewritten_bytes = 0
        kept = f"{self.dir}/kept.parquet"
        gen.write_points(kept, self.feed.kept)
        # the batch rollup of exactly the lines the stream must keep
        self.expected = {
            (r.metric, r.bucket_ts): tuple(r[2:])
            for r in rollup_partials(
                self.spark.read.parquet(kept), key_cols=["metric"], step_seconds=self.STEP
            ).collect()
        }

    def stream(self, src: str, run: str):
        """Start one stream that drains ``src`` into a fresh sink."""
        lines = self.spark.readStream.option("maxFilesPerTrigger", 1).text(src)
        rolled = streaming_rollup(
            parse_graphite_lines(lines), step_seconds=self.STEP, watermark=self.WATERMARK
        )
        return write_rollup_sink(rolled, f"{run}/sink", f"{run}/ckpt").trigger(
            availableNow=True
        ).start()

    def warm(self) -> None:
        """One stream over the feed's first two files, so that state
        carries from one batch to the next. A cold stream over the whole
        feed costs as much set-up time again, and every run of the
        benchmark pays it."""
        self.stream(self.warm_src, f"{self.dir}/warm").awaitTermination()
        shutil.rmtree(f"{self.dir}/warm")

    def op(self, i: int) -> Op:
        run = f"{self.dir}/run{i}"
        t = time.perf_counter()
        q = self.stream(self.src, run)
        q.awaitTermination()
        wall = time.perf_counter() - t
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        ok = self.check(f"{run}/sink", progress)
        out = Op(len(self.feed.kept), ok, [p.durationMs["triggerExecution"] for p in progress], wall)
        if self.ctx.tracer.enabled:
            out.counts = self.progress_counts(progress)
        shutil.rmtree(run)
        return out

    def check(self, sink: str, progress) -> bool:
        """The sink equals the batch rollup of the in-watermark lines, so
        exactly the malformed and the late lines were dropped."""
        got = {
            (r.metric, r.bucket_ts): (r.cnt, r.sum_q, r.min_v, r.max_v, r.last_ts, r.last_v)
            for r in self.spark.read.parquet(sink).collect()
        }
        want = self.expected
        if self.wrong():
            want = dict(want)
            k = next(iter(want))
            want[k] = (want[k][0] + 1,) + want[k][1:]
        dropped = self.feed.lines - sum(v[0] for v in got.values())
        if got != want:
            diff = sorted(set(got.items()) ^ set(want.items()))[:4]
            print(f"perfbench: stream sink mismatch, e.g. {diff}", file=sys.stderr)
        return (
            got == want
            and dropped == self.feed.malformed + self.feed.late
            and sum(p.numInputRows for p in progress) == self.feed.lines
        )

    def progress_counts(self, progress) -> dict[str, float]:
        dur = [p.durationMs for p in progress]
        overhead = [
            sum(d.get(k, 0) for k in ("latestOffset", "getBatch", "queryPlanning", "walCommit"))
            for d in dur
        ]
        state = progress[-1].stateOperators[0]
        in_bytes = sum(os.path.getsize(os.path.join(self.src, f)) for f in os.listdir(self.src))
        return {
            "trigger_ms": [d["triggerExecution"] for d in dur],
            "overhead_ms": overhead,
            "add_batch_ms": [d["addBatch"] for d in dur],
            "state_rows": state.numRowsTotal,
            "state_memory_bytes": state.memoryUsedBytes,
            "input_bytes": in_bytes,
        }

    def instrument(self, t: Tracer) -> None:
        orig = ingest_mod.upsert_rollup_partitions

        def upsert(batch_df, path, **kwargs):
            with t.span("streaming.upsert", "streaming"):
                orig(batch_df, path, **kwargs)
            # each batch rewrites the date partitions it touches; a feed's
            # kept points all fall on one date, so that is the whole sink
            if t.request is not None:
                self.rewritten_bytes += dir_stats(path)[1]

        t.patch(ingest_mod, "upsert_rollup_partitions", upsert)

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        cat = lambda k: [x for o in ops for x in o.counts[k]]  # noqa: E731
        upserts = self.ctx.tracer.spans_named("streaming.upsert")
        return {
            "streaming.trigger_ms_p50": pct(cat("trigger_ms"), 50),
            "streaming.overhead_ms_p50": pct(cat("overhead_ms"), 50),
            "streaming.add_batch_ms_p50": pct(cat("add_batch_ms"), 50),
            "streaming.upsert_ms_p50": pct([(s.end - s.start) * 1e3 for s in upserts], 50),
            "streaming.sink_bytes_rewritten_per_input_byte": self.rewritten_bytes
            / sum(o.counts["input_bytes"] for o in ops),
            "streaming.state_rows": max(o.counts["state_rows"] for o in ops),
            "streaming.state_memory_bytes": max(o.counts["state_memory_bytes"] for o in ops),
            # lines the parser keeps, counted by a batch pass over the feed
            "streaming.parse_kept_ratio": parse_graphite_lines(
                self.spark.read.text(self.src)
            ).count()
            / self.feed.lines,
        }


# -- dashboard --------------------------------------------------------------------


@dataclass
class Request:
    kind: str
    target: str | list[str] = ""
    from_ts: int | str = 0
    until_ts: int | str = 0
    max_data_points: int | None = None
    #: expected (bucket_ts, value) rows, for the checked kinds
    expect: list[tuple[int, float]] | None = None


#: one round of the replayed mix: one request of each kind
KINDS = ("exact", "sum", "summarize", "mdp", "panel", "wide", "browse")


class Dashboard(Workload):
    """A seeded replay of Grafana-shaped render and browse requests.

    The store is written in set-up with ``Engine.write`` into a
    two-policy, three-level, hash-bucketed ladder and checked for
    conservation, so this workload also carries the batch write path."""

    name = "dashboard"
    cycle = len(KINDS)

    def stage(self, rep: int) -> None:
        sz = self.size
        self.dir = f"{self.ctx.workdir}/dashboard-{rep}"
        os.makedirs(self.dir)
        rng = self.inputs()
        self.data = gen.store(rng, sz["hosts"], sz["cpus"], sz["minutes"])
        self.points = f"{self.dir}/points.parquet"
        gen.write_points(self.points, self.data.rows())
        self.now = gen.T0 + 60 * (sz["minutes"] - 1)
        self.requests = []
        for _ in range(sz["cycles"]):
            kinds = list(KINDS)
            rng.shuffle(kinds)
            self.requests += [self.request(rng, k) for k in kinds]
        self.persisted: list = []
        self.leaf_refs = 0

    def warm(self) -> None:
        """Write and check the store (once: three builds cost more run time
        than the budget of a run allows), then serve the kinds whose first
        run compiles the most new code, from the last round, which a run
        rarely reaches."""
        self.store = f"{self.dir}/store"
        self.engine = Engine(
            self.spark, self.store, policies=POLICIES, metric_buckets=METRIC_BUCKETS
        )
        with self.jobs.group() as counts:
            self.engine.write(self.spark.read.parquet(self.points))
        self.write_counts = counts
        self.setup_checks += 1
        self.setup_failures += not self.check_store()
        last = self.requests[-len(KINDS):]
        for kind in ("panel", "summarize"):
            self.serve(next(r for r in last if r.kind == kind))
            clear_tracked()

    def check_store(self) -> bool:
        """Conservation on every level of both ladders: each policy's point
        count and quantized value sum survive the rollup cascade."""
        want: dict[tuple[str, int], tuple[int, int]] = {}
        for name, vals in self.data.series.items():
            policy = next(p for p in POLICIES if re.search(p.pattern, name)).name
            for step in STEPS:
                cnt, q = want.get((policy, step), (0, 0))
                want[policy, step] = (cnt + len(vals), q + gen.qsum(vals))
        rows = (
            self.spark.read.parquet(self.store)
            .groupBy("policy", "step")
            .agg(F.sum("cnt").alias("cnt"), F.sum("sum_q").alias("sum_q"))
            .collect()
        )
        return {(r.policy, r.step): (r.cnt, r.sum_q) for r in rows} == want

    # request generation -----------------------------------------------------------

    def request(self, rng: random.Random, kind: str) -> Request:
        sz = self.size
        h, c = rng.randrange(sz["hosts"]), rng.randrange(sz["cpus"])
        m = rng.choice(gen.CPU_FIELDS)
        # every request of a kind spans the same window length and glob
        # breadth, so a kind costs the same whatever the seed picks
        hours = sz["minutes"] // 60
        w = hours - 2
        f = gen.T0 + 3600 * rng.randrange(hours - w)
        u = f + 3600 * w
        name = f"srv{h}.cpu{c}.{m}"
        if kind == "exact":
            return Request(kind, name, f, u, expect=self.slots(name, f, u))
        if kind == "sum":
            names = [f"srv{h}.cpu{k}.{m}" for k in range(sz["cpus"])]
            per = [self.slots(n, f, u) for n in names]
            rows = [(ts, sum(s[j][1] for s in per)) for j, (ts, _) in enumerate(per[0])]
            return Request(kind, f"sumSeries(srv{h}.cpu*.{m})", f, u, expect=rows)
        if kind == "summarize":
            best: dict[int, float] = {}
            for ts, v in self.slots(name, f, u):
                b = ts - ts % 3600
                best[b] = max(best.get(b, v), v)
            return Request(
                kind, f"summarize({name}, '1h', 'max')", f, u, expect=sorted(best.items())
            )
        if kind == "mdp":
            return Request(kind, name, f, u, 100, expect=consolidate(self.slots(name, f, u), 100))
        if kind == "panel":
            leaf = f"srv{h}.cpu*.{m}"
            return Request(
                kind,
                [f"sumSeries({leaf})", f"averageSeries({leaf})", name],
                f"-{w}h", "now", 200,
            )
        if kind == "wide":
            return Request(kind, f"highestAverage(srv*.cpu*.{m}, 3)", f, u, 200)
        return Request(kind, rng.choice([f"metrics:srv{h}.*.*", f"find:srv{h}.*", "tags:"]))

    def slots(self, name: str, f: int, u: int) -> list[tuple[int, float]]:
        vals = self.data.series[name]
        lo, hi = (f - gen.T0) // 60, (u - gen.T0) // 60
        return [(gen.T0 + 60 * i, vals[i]) for i in range(lo, hi + 1)]

    # serving ------------------------------------------------------------------------

    def op(self, i: int) -> Op:
        req = self.requests[i % len(self.requests)]
        tr = self.ctx.tracer
        self.persisted, self.leaf_refs = [], 0
        with self.jobs.group() as counts:
            t = time.perf_counter()
            with tr.span("request", "bench"):
                rows = self.serve(req)
            wall = time.perf_counter() - t
        ok = self.check(req, rows)
        out = Op(1, ok, [wall * 1e3], wall)
        if tr.enabled:
            out.counts = {
                "kind": req.kind,
                "jobs": counts["jobs"],
                "tasks": counts["tasks"],
                "leaf_refs": self.leaf_refs,
                "persists": len(self.persisted),
                "rows": sum(df.count() for df in self.persisted),
            }
        clear_tracked()
        return out

    def serve(self, req: Request) -> list:
        e, tr = self.engine, self.ctx.tracer
        if req.kind == "browse":
            what, _, arg = req.target.partition(":")
            return e.tags() if what == "tags" else getattr(e, what)(arg)
        if req.kind == "panel":
            df = e.render_many(
                req.target, req.from_ts, req.until_ts,
                now_ts=self.now, max_data_points=req.max_data_points,
            )
        else:
            df = e.render(
                req.target, req.from_ts, req.until_ts,
                now_ts=self.now, max_data_points=req.max_data_points,
            )
        with tr.span("spark.exec", "spark"):
            return df.collect()

    def check(self, req: Request, rows: list) -> bool:
        if req.expect is None:
            return len(rows) > 0
        got = sorted((r.bucket_ts, r.value) for r in rows)
        want = req.expect
        if self.wrong():
            want = [(ts, v + 1) for ts, v in want]
        return len(got) == len(want) and all(
            gt == wt and gv is not None and abs(gv - wv) <= 1e-9 * max(1.0, abs(wv))
            for (gt, gv), (wt, wv) in zip(got, want)
        )

    # tracing ------------------------------------------------------------------------

    def instrument(self, t: Tracer) -> None:
        t.wrap(Engine, "write", "api.write", "api")
        t.wrap(api_mod, "build_ladder", "ladder.build", "ladder")
        t.wrap(Engine, "render", "api.render", "api")
        t.wrap(Engine, "render_many", "api.render_many", "api")
        t.wrap(Engine, "fetch", "api.fetch", "api")
        for browse in ("metrics", "find", "tags"):
            t.wrap(Engine, browse, "api.browse", "api")
        t.wrap(api_mod, "fetch_from_ladder", "ladder.fetch", "ladder")
        persist, compile_ = cache_mod.persist_tracked, render_mod.render

        def persist_shim(df):
            self.persisted.append(df)
            with t.span("cache.persist", "cache"):
                return persist(df)

        def leaf(fn):
            def counted(*args):
                self.leaf_refs += 1
                return fn(*args)
            return counted

        def render_shim(target, fetch_fn, *args, **kwargs):
            if kwargs.get("refetch_fn") is not None:
                kwargs["refetch_fn"] = leaf(kwargs["refetch_fn"])
            with t.span("render.compile", "render"):
                return compile_(target, leaf(fetch_fn), *args, **kwargs)

        t.patch(cache_mod, "persist_tracked", persist_shim)
        t.patch(render_mod, "render", render_shim)

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        t = self.ctx.tracer
        dur = lambda s: (s.end - s.start) * 1e3  # noqa: E731
        top: dict[int, float] = {}
        fetch: dict[int, float] = {}
        execs: dict[int, float] = {}
        fetch_calls: dict[int, int] = {}
        browse: list[float] = []
        req_idx = {i: s.request for i, s in enumerate(t.spans) if s.name == "request"}
        # spans outside a timed request (the store write and the warm-up in
        # set-up) carry no request id
        for s in t.spans:
            r = s.request
            if r is None:
                continue
            if s.parent in req_idx and s.layer == "api":
                if s.name == "api.browse":
                    browse.append(dur(s))
                else:
                    top[r] = top.get(r, 0.0) + dur(s)
            elif s.name == "ladder.fetch":
                fetch[r] = fetch.get(r, 0.0) + dur(s)
            elif s.name == "api.fetch":
                fetch_calls[r] = fetch_calls.get(r, 0) + 1
            elif s.name == "spark.exec":
                execs[r] = execs.get(r, 0.0) + dur(s)
        renders = [o for o in ops if o.counts["kind"] != "browse"]
        reqs = sorted(top)
        leafs = sum(o.counts["leaf_refs"] for o in renders)
        calls = sum(fetch_calls.values())
        mean = lambda k, os_=renders: statistics.mean(o.counts[k] for o in os_)  # noqa: E731
        out = {
            "api.render_plan_ms_p50": pct([top[r] for r in reqs], 50),
            "ladder.fetch_plan_ms_p50": pct([fetch.get(r, 0.0) for r in reqs], 50),
            "render.compile_ms_p50": pct([top[r] - fetch.get(r, 0.0) for r in reqs], 50),
            "render.exec_ms_p50": pct(list(execs.values()), 50),
            "render.exec_ms_tail": pct(list(execs.values()), TAIL_PCT),
            "api.fetch_calls_per_request": calls / len(renders),
            "render.leaf_refs_per_request": leafs / len(renders),
            "cache.memo_hit_ratio": 1 - calls / leafs if leafs else 0.0,
            "cache.persists_per_request": mean("persists"),
            "fetch.rows_per_request": mean("rows"),
            "spark.jobs_per_request": mean("jobs", ops),
            "spark.tasks_per_request": mean("tasks", ops),
            "api.browse_ms_p50": pct(browse, 50),
        }
        # the write path ran once, in set-up
        if t.spans_named("api.write", in_setup=True):
            write = t.total("api.write", in_setup=True)
            build = t.total("ladder.build", in_setup=True)
            out.update({
                "api.write_s": write,
                "api.write_overhead_s": write - build,
                "ladder.build_s": build,
                "spark.jobs_per_write": self.write_counts["jobs"],
                "spark.tasks_per_write": self.write_counts["tasks"],
            })
        out.update(ladder_layout(self.store, self.data.points))
        return out


def consolidate(slots: list[tuple[int, float]], mdp: int) -> list[tuple[int, float]]:
    """graphite ``maxDataPoints`` averaging of one gap-free series."""
    n = len(slots)
    start, end = slots[0][0], slots[-1][0]
    step = (end - start) // (n - 1)
    vpp = math.ceil(n / mdp) if mdp < n else 1
    spp = vpp * step
    nstart = start + spp + start % step - start % spp
    if not (vpp > 1 and nstart <= end):
        nstart = start
    bands: dict[int, list[float]] = {}
    for ts, v in slots:
        if ts >= nstart:
            bands.setdefault(nstart + (ts - nstart) // spp * spp, []).append(v)
    return [(b, sum(vs) / len(vs)) for b, vs in sorted(bands.items())]


# -- corpus dedup ---------------------------------------------------------------------


class CorpusDedup(Workload):
    """One pass of the LLM-data pipeline per operation: exact dedup,
    capped n-gram Jaccard pairs, connected components, SRP top-k and
    quality features over a seeded corpus."""

    name = "corpus_dedup"
    K = 5

    def stage(self, rep: int) -> None:
        sz = self.size
        path = f"{self.ctx.workdir}/corpus-{rep}.parquet"
        self.corpus = gen.corpus(
            self.inputs(),
            docs=sz["docs"],
            near_pairs=sz["near_pairs"],
            exact_copies=sz["exact_copies"],
            labels=8,
            dim=64,
            queries=sz["queries"],
        )
        gen.write_corpus(self.corpus, path)
        self.docs = self.spark.read.parquet(path)
        self.queries = self.docs.where(F.col("doc_id").isin(self.corpus.queries))

    def warm(self) -> None:
        """Two passes: after a single one the timed passes still speed up
        from one to the next, by a share that varies with the host's load."""
        for i in range(2):
            self.op(-1 - i)

    def op(self, i: int) -> Op:
        tr, docs = self.ctx.tracer, self.docs
        t = time.perf_counter()
        with tr.span("dedup.exact", "dedup"):
            copies = exact_dedup(docs).agg(F.sum(F.col("n_copies") - 1)).collect()[0][0]
        with tr.span("dedup.jaccard", "dedup"):
            pairs = {
                (r.id_a, r.id_b)
                for r in ngram_jaccard_pairs(docs, threshold=0.6, max_df=self.size["max_df"])
                .select("id_a", "id_b")
                .collect()
            }
        with tr.span("dedup.components", "dedup"):
            edges = self.spark.createDataFrame(sorted(pairs), "id_a long, id_b long")
            comp = {r.id: r.component for r in connected_components_star(edges).collect()}
        with tr.span("similarity.srp_topk", "similarity"):
            nn = srp_topk(self.queries, docs, k=self.K, id_col="doc_id", dim=64).select(
                "query_id", "neighbor_id"
            ).collect()
        with tr.span("textops.quality", "textops"):
            quality = quality_features(docs).agg(F.count(F.lit(1)).alias("n")).collect()[0]
        clear_tracked()
        wall = time.perf_counter() - t
        near = self.corpus.near_pairs
        want_copies = self.corpus.exact_copies + (1 if self.wrong() else 0)
        ok = (
            copies == want_copies
            and near <= pairs
            and all(comp[a] == comp[b] for a, b in near)
            and 0 < len(nn) <= self.K * len(self.corpus.queries)
            and quality.n == len(self.corpus.docs)
        )
        out = Op(len(self.corpus.docs), ok, [wall * 1e3], wall)
        if tr.enabled:
            out.counts = {
                "pairs": len(pairs),
                "recall": len(near & pairs) / len(near),
                "nn": {(r.query_id, r.neighbor_id) for r in nn},
            }
        return out

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        t = self.ctx.tracer
        n = len(ops)
        brute = {
            (r.query_id, r.neighbor_id)
            for r in cosine_topk(self.queries, self.docs, k=self.K, id_col="doc_id")
            .select("query_id", "neighbor_id")
            .collect()
        }
        clear_tracked()
        return {
            "dedup.exact_s": t.total("dedup.exact") / n,
            "dedup.jaccard_s": t.total("dedup.jaccard") / n,
            "dedup.components_s": t.total("dedup.components") / n,
            "dedup.pairs_found": statistics.mean(o.counts["pairs"] for o in ops),
            "dedup.recall": statistics.mean(o.counts["recall"] for o in ops),
            "similarity.srp_topk_s": t.total("similarity.srp_topk") / n,
            "similarity.recall_at_k": len(ops[-1].counts["nn"] & brute) / len(brute),
            "textops.quality_s": t.total("textops.quality") / n,
        }


WORKLOADS = {w.name: w for w in (StreamIngest, Dashboard, CorpusDedup)}
