"""The benchmark's workloads and the layer probes of its traced run.

``build``  closed loop, one client: ``plans.pipeline.run_pipeline`` into a
           fresh warehouse per operation. Drives the write path:
           extraction, linking, canonicalize, graph/kg, the overlay commits
           and ``validate``; bypasses ``streaming`` and ``kgql``.
``ingest`` closed loop, one client, a scheduled incremental job: append one
           arrival file, then drain it with
           ``streaming.ingest.stream_triples_exact`` (``availableNow``).
           Per-drain fixed costs dominate and per-row work is small, the
           opposite of ``build``.

Every operation's output is checked against the frozen reference
extractor; a failed check counts the operation as failed.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager, redirect_stdout

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from corpus import TRANSCRIPT_SCHEMA, Corpus, check_triples, oracle
from tracing import REF_LOOP_MS, SpeedProbe, steal_s, tree_cpu_s

BUILD_SIZE = (60, 12)  # conversations, mean turns per conversation
INGEST_SIZE = (96, 12)
INGEST_FILES = 16  # arrival files cut from the ingest corpus
# Operations timed per run. A fixed count keeps a run's mix of samples the
# same however fast the host is (the first timed drain still pays some
# first-use cost; see README.md).
BUILD_OPS = 1
INGEST_OPS = 2
WARMUP_SEED_OFFSET = 1_000_003  # warm-up corpus seed = run seed + this
WARMUP_SIZE = (24, 8)
WARMUP_DRAINS = 1


def noop(df) -> None:
    """Run a frame to completion without writing it anywhere."""
    df.write.format("noop").mode("overwrite").save()


def dir_stats(path: str, suffix: str = "") -> tuple[int, int]:
    """(file count, total bytes) of files under ``path`` ending in
    ``suffix``, ignoring Spark's checksum side files."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix) and not f.endswith(".crc"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class Context:
    """What every workload needs: the session, a per-run scratch dir, the
    corpus cache, the seed and the tracer."""

    def __init__(self, spark, run_dir: str, cache_dir: str, seed: int, tracer):
        self.spark = spark
        self.run_dir = run_dir
        self.cache_dir = cache_dir
        self.seed = seed
        self.tracer = tracer
        self.bench_s = 0.0  # benchmark-own work (generation, oracles)

    @contextmanager
    def bench(self):
        """Time benchmark-own work, which ``setup_s`` leaves out."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.bench_s += time.perf_counter() - t

    def corpus(self, seed: int, size: tuple[int, int]) -> Corpus:
        with self.bench():
            return Corpus(self.cache_dir, seed, *size)

    def fresh_dir(self, prefix: str) -> str:
        return tempfile.mkdtemp(prefix=prefix, dir=self.run_dir)


class Op:
    """One timed operation: wall window, turns processed, check result."""

    def __init__(self, start: float, seconds: float, turns: int):
        self.start = start
        self.seconds = seconds
        self.turns = turns
        self.ok = False
        self.detail: dict = {}
        self.cpu_s = 0.0  # CPU of the process tree during the operation
        self.steal_s = 0.0  # CPU time the hypervisor took meanwhile
        self.loop_ms = REF_LOOP_MS  # host speed meanwhile (tracing.SpeedProbe)

    @property
    def ref_cpu_s(self) -> float:
        """CPU time scaled to the reference speed ``REF_LOOP_MS``."""
        return self.cpu_s * REF_LOOP_MS / self.loop_ms


def timed(ctx: Context, fn, turns: int) -> tuple[Op, object]:
    """Run ``fn`` as the timed operation, with the package's progress
    prints sent to stderr so stdout stays the result channel."""
    pid = os.getpid()
    c0, s0 = tree_cpu_s(pid), steal_s()
    w0, t0 = time.time(), time.perf_counter()
    with redirect_stdout(sys.stderr), ctx.tracer.span("op"), SpeedProbe() as probe:
        out = fn()
    op = Op(w0, time.perf_counter() - t0, turns)
    op.cpu_s = tree_cpu_s(pid) - c0 - probe.cpu_s
    op.steal_s = steal_s() - s0
    op.loop_ms = probe.loop_ms()
    return op, out


class Build:
    name = "build"
    max_ops = BUILD_OPS

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.corpus = ctx.corpus(ctx.seed, BUILD_SIZE)
        with ctx.bench():
            self.expected = self.corpus.expected_triples()
        self.last_warehouse: str | None = None
        self.probe_failures: list[str] = []  # traced read-path checks

    def setup(self) -> None:
        spark = self.ctx.spark
        self.transcripts = spark.read.parquet(self.corpus.transcripts)
        self.alias_dict = spark.read.parquet(self.corpus.alias_dict)

    def _passes(self):
        from codepropertygraph_spark.plans import pipeline as P

        if not self.ctx.tracer.enabled:
            return P.STANDARD_PASSES
        tracer = self.ctx.tracer

        def traced(p):
            def run(pctx):
                with tracer.span(f"plan.{p.name}"):
                    return p.run(pctx)
            return P.Pass(p.name, run, p.depends_on)

        return tuple(traced(p) for p in P.STANDARD_PASSES)

    def op(self, i: int) -> Op:
        from codepropertygraph_spark.plans import pipeline as P

        wh = self.ctx.fresh_dir("warehouse-")
        op, cat = timed(
            self.ctx,
            lambda: P.run_pipeline(
                self.ctx.spark, self.transcripts, self.alias_dict, wh,
                passes=self._passes(),
            ),
            self.corpus.turns,
        )
        triples = cat.read_table("triples").select(
            "conv_id", "subj", "pred", "obj"
        ).collect()
        ok, op.detail = check_triples(triples, self.expected)
        op.detail["violations"] = cat.read_table("violations").count()
        op.ok = ok and op.detail["violations"] == 0
        if self.ctx.tracer.enabled:
            op.detail["commits"] = cat.committed_overlays()
            op.detail["files"] = dir_stats(cat.overlays_dir, ".parquet")
        if self.last_warehouse:
            shutil.rmtree(self.last_warehouse, ignore_errors=True)
        self.last_warehouse = wh
        return op

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        """Per-layer metrics of the traced run: pass spans from the
        committed overlays, operator probes, and the read path over the
        last committed warehouse."""
        from codepropertygraph_spark.plans import pipeline as P

        tracer = self.ctx.tracer
        n = len(ops)
        out: dict[str, float] = {}
        for p in P.STANDARD_PASSES:
            commit = sum(
                c["wall_seconds"] for op in ops
                for c in op.detail.get("commits", []) if c["overlay"] == p.name
            )
            out[f"pipeline.pass_s.{p.name}"] = (
                tracer.total(f"plan.{p.name}") + commit
            ) / n
        out["pipeline.plan_s"] = sum(
            tracer.total(f"plan.{p.name}") for p in P.STANDARD_PASSES
        ) / n
        out["pipeline.outside_s"] = sum(op.seconds for op in ops) / n - sum(
            out[f"pipeline.pass_s.{p.name}"] for p in P.STANDARD_PASSES
        )
        out["pipeline.rows_written"] = sum(
            v for op in ops for c in op.detail.get("commits", [])
            for v in c["counters"].values()
        ) / n
        out["pipeline.files_written"] = sum(op.detail.get("files", (0, 0))[0] for op in ops) / n
        out["pipeline.bytes_written"] = sum(op.detail.get("files", (0, 0))[1] for op in ops) / n
        out.update(operator_probes(self.ctx, self.transcripts, self.alias_dict))
        read, self.probe_failures = read_probes(
            self.ctx, self.last_warehouse, BUILD_SIZE[0]
        )
        out.update(read)
        return out


class Ingest:
    name = "ingest"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.corpus = ctx.corpus(ctx.seed, INGEST_SIZE)
        warm = ctx.corpus(ctx.seed + WARMUP_SEED_OFFSET, WARMUP_SIZE)
        with ctx.bench():
            self.rows = self.corpus.rows()
            self.alias_rows = self.corpus.alias_rows()
            self.warm_rows = warm.rows()
        self.per_file = -(-len(self.rows) // INGEST_FILES)
        self.dirs = {k: ctx.fresh_dir(f"ingest-{k}-") for k in ("in", "out", "ck")}
        # traced runs drain stream_follows_exact alone into these
        self.shadow = {"in": self.dirs["in"], "out": ctx.fresh_dir("shadow-out-"),
                       "ck": ctx.fresh_dir("shadow-ck-")}
        self.max_ops = INGEST_OPS
        self.probe_failures: list[str] = []

    def _append(self, in_dir: str, rows: list[dict], i: int) -> None:
        tmp = os.path.join(self.ctx.run_dir, f".arrival-{i:04d}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=TRANSCRIPT_SCHEMA), tmp)
        os.replace(tmp, os.path.join(in_dir, f"part-{i:04d}.parquet"))

    def _drain(self, dirs: dict) -> None:
        from codepropertygraph_spark.streaming import ingest as I

        I.stream_triples_exact(
            self.ctx.spark, dirs["in"], self.alias_dict, dirs["out"], dirs["ck"]
        )

    def setup(self) -> None:
        """Register the dictionary and warm up on a separate input and
        checkpoint, so the timed drains start from empty state in a JVM
        whose first-use costs are already paid."""
        self.alias_dict = self.ctx.spark.read.parquet(self.corpus.alias_dict)
        warm = {k: self.ctx.fresh_dir(f"warm-{k}-") for k in ("in", "out", "ck")}
        per = -(-len(self.warm_rows) // WARMUP_DRAINS)
        for i in range(WARMUP_DRAINS):
            with self.ctx.bench():
                self._append(warm["in"], self.warm_rows[i * per:(i + 1) * per], i)
            with redirect_stdout(sys.stderr):
                self._drain(warm)

    def op(self, i: int) -> Op:
        from codepropertygraph_spark.streaming import ingest as I

        arrival = self.rows[i * self.per_file:(i + 1) * self.per_file]
        self._append(self.dirs["in"], arrival, i)
        op, _ = timed(self.ctx, lambda: self._drain(self.dirs), len(arrival))
        tracer = self.ctx.tracer
        if tracer.enabled:
            with redirect_stdout(sys.stderr), tracer.span("ingest.follows"):
                I.stream_follows_exact(
                    self.ctx.spark, self.shadow["in"], self.alias_dict,
                    self.shadow["out"], self.shadow["ck"],
                )
        with tracer.span("ingest.read"):
            got = I.read_triples_exact(self.ctx.spark, self.dirs["out"]).collect()
        expected = oracle(self.rows[:(i + 1) * self.per_file], self.alias_rows)
        op.ok, op.detail = check_triples(got, expected)
        return op

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        tracer = self.ctx.tracer
        n = len(ops)
        follows = tracer.total("ingest.follows")
        out = {
            "ingest.follows_s": follows / n,
            "ingest.clauses_s": (sum(op.seconds for op in ops) - follows) / n,
            "ingest.read_s": tracer.total("ingest.read") / n,
            "ingest.checkpoint_files": dir_stats(self.dirs["ck"])[0],
            "ingest.state_bytes": dir_stats(
                os.path.join(self.dirs["ck"], "follows", "state")
            )[1],
            "ingest.sink_files": dir_stats(self.dirs["out"], ".parquet")[0],
        }
        transcripts = self.ctx.spark.read.parquet(self.corpus.transcripts)
        out.update(operator_probes(self.ctx, transcripts, self.alias_dict))
        return out


def operator_probes(ctx: Context, transcripts, alias_dict) -> dict[str, float]:
    """Each operator layer called on its own over the workload's corpus,
    run to completion into a noop sink."""
    from pyspark.sql import functions as F

    from codepropertygraph_spark.operators import (
        canonicalize, extraction, kg, linking,
    )

    tracer = ctx.tracer
    raw = extraction.raw_triples(transcripts)
    mentions = extraction.mention_surfaces(transcripts, alias_dict)
    with tracer.span("extraction"):
        noop(raw)
        noop(mentions)
    n_raw, n_mentions = raw.count(), mentions.count()
    with tracer.span("linking"):
        noop(linking.linked_triples_premerge(raw, alias_dict))
    resolved = mentions.where(F.col("in_dict")).count()
    with tracer.span("canonicalize"):
        canonicalize.merge_map(alias_dict).localCheckpoint(eager=True)
    cands = canonicalize.candidate_pairs_lsh(alias_dict).localCheckpoint(eager=True)
    n_cands = cands.count()
    n_verified = canonicalize.verified_pairs(cands).count()
    with tracer.span("kg"):
        noop(kg.final_triples(transcripts, alias_dict))
    return {
        "extraction.busy_s": tracer.total("extraction"),
        "extraction.rows_out": n_raw + n_mentions,
        "linking.busy_s": tracer.total("linking"),
        "linking.mentions": n_mentions,
        "linking.resolved_ratio": resolved / n_mentions if n_mentions else 0.0,
        "canonicalize.merge_map_s": tracer.total("canonicalize"),
        "canonicalize.candidate_pairs": n_cands,
        "canonicalize.verified_ratio": n_verified / n_cands if n_cands else 0.0,
        "kg.final_triples_s": tracer.total("kg"),
    }


# kgql query classes: (console expression, DuckDB oracle over the committed
# overlay parquet). {conv} is a seeded ordinary conversation, {prefix} a
# seeded entity-name prefix; c000000 is the mega-conversation.
QUERY_CLASSES = {
    "label_count": (
        "g.turns().count()",
        "SELECT count(*) FROM nodes WHERE label = 'TURN'",
    ),
    "point_hop": (
        "g.turns().has(conv_id='{conv}').out('AST').count()",
        "SELECT count(*) FROM nodes n JOIN edges e ON e.src = n.id "
        "AND e.label = 'AST' JOIN nodes m ON m.id = e.dst "
        "WHERE n.label = 'TURN' AND n.conv_id = '{conv}'",
    ),
    "regex_rev_hop": (
        "g.entities().name('^{prefix}').in_('REF').count()",
        "SELECT count(*) FROM nodes n JOIN edges e ON e.dst = n.id "
        "AND e.label = 'REF' JOIN nodes m ON m.id = e.src "
        "WHERE n.label = 'ENTITY' AND regexp_matches(n.name, '^{prefix}')",
    ),
    "group_count": (
        "g.all().group_count('label')",
        "SELECT label, count(*) AS n FROM nodes GROUP BY label ORDER BY label",
    ),
    "mega_hop": (
        "g.turns().has(conv_id='c000000').out('NEXT').count()",
        "SELECT count(*) FROM nodes n JOIN edges e ON e.src = n.id "
        "AND e.label = 'NEXT' JOIN nodes m ON m.id = e.dst "
        "WHERE n.label = 'TURN' AND n.conv_id = 'c000000'",
    ),
}


def duck_render(rows: list[tuple], cols: list[str]) -> str:
    """The console's rendering of a result, for DuckDB rows."""
    if cols == ["count_star()"]:
        return repr(rows[0][0])
    lines = [" | ".join(cols)] + [" | ".join(str(v) for v in r) for r in rows]
    return "\n".join(lines)


def read_probes(ctx: Context, warehouse: str, n_conv: int):
    """Read path over a committed warehouse: the ``Catalog`` overlay union
    with its merge-on-read, then each kgql query class evaluated in process
    and checked against DuckDB over the same parquet. Returns the metrics
    and the query classes whose answer differed."""
    import duckdb

    from codepropertygraph_spark.operators.traversal import GraphView
    from codepropertygraph_spark.plans.pipeline import Catalog
    from tools import kgql

    tracer = ctx.tracer
    with tracer.span("pipeline.read"):
        cat = Catalog(ctx.spark, warehouse)
        nodes, edges = cat.nodes(), cat.edges()
        nodes.count()
        edges.count()
    g = GraphView(nodes, edges)
    rng = np.random.default_rng(ctx.seed)
    params = {
        "conv": f"c{int(rng.integers(1, n_conv)):06d}",
        "prefix": f"person_{int(rng.integers(1, 10))}",
    }
    con = duckdb.connect()
    for t in ("nodes", "edges"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
            f"'{warehouse}/overlays/*/{t}/*.parquet', union_by_name=true)"
        )
    out = {"pipeline.read_s": tracer.total("pipeline.read")}
    failed = []
    for cls, (expr, sql) in QUERY_CLASSES.items():
        with tracer.span(f"kgql.{cls}"):
            got = kgql.evaluate(g, expr.format(**params))
        res = con.execute(sql.format(**params))
        want = duck_render(res.fetchall(), [d[0] for d in res.description])
        if got != want:
            failed.append(cls)
            print(f"kgql {cls}: got {got!r}, DuckDB {want!r}", file=sys.stderr)
        out[f"kgql.eval_s.{cls}"] = tracer.total(f"kgql.{cls}")
    con.close()
    return out, failed


WORKLOADS = {w.name: w for w in (Build, Ingest)}


def run_op(workload, i: int) -> Op:
    """One operation. One that raises is reported and counts as failed,
    with its wall and CPU time up to the error."""
    c0 = tree_cpu_s(os.getpid())
    w0, t0 = time.time(), time.perf_counter()
    try:
        return workload.op(i)
    except Exception:
        traceback.print_exc()
        op = Op(w0, time.perf_counter() - t0, 0)
        op.cpu_s = tree_cpu_s(os.getpid()) - c0
        return op


_PASSES = ("meta_data", "base_layer", "extraction", "link_files", "decorate",
           "canonicalize", "linking", "rel_triples", "validate")
# Every per-layer metric with its unit. A traced run reports all of them;
# a layer its workload does not call reads 0 (see README.md).
PER_LAYER = {
    "extraction.busy_s": "s",
    "extraction.rows_out": "count",
    "linking.busy_s": "s",
    "linking.mentions": "count",
    "linking.resolved_ratio": "ratio",
    "canonicalize.merge_map_s": "s",
    "canonicalize.candidate_pairs": "count",
    "canonicalize.verified_ratio": "ratio",
    "kg.final_triples_s": "s",
    **{f"pipeline.pass_s.{p}": "s" for p in _PASSES},
    "pipeline.plan_s": "s",
    "pipeline.outside_s": "s",
    "pipeline.rows_written": "count",
    "pipeline.bytes_written": "bytes",
    "pipeline.files_written": "count",
    "pipeline.read_s": "s",
    "ingest.follows_s": "s",
    "ingest.clauses_s": "s",
    "ingest.read_s": "s",
    "ingest.state_bytes": "bytes",
    "ingest.checkpoint_files": "count",
    "ingest.sink_files": "count",
    **{f"kgql.eval_s.{c}": "s" for c in QUERY_CLASSES},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.cpu_util": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "traced.latency_p50_s": "s",
    "traced.cpu_p50_s": "s",
    "traced.cpu_ref_p50_s": "s",
    "host.steal_s": "s",
    "host.loop_ms": "ms",
}
