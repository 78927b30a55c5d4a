"""Pass/overlay pipeline framework — DiffGraph apply + LayerCreator analog.

The reference builds its graph as a base layer plus ordered additive
overlays: each pass emits DiffGraphs, a single writer applies them
(``codepropertygraph/.../passes/ParallelCpgPass.scala:20-121``), the applied
diff is serialized as a numbered overlay into the zip
(``CpgPass.createApplySerializeAndStore``, ``CpgPass.scala:73-128``;
``SerializedCpg.addOverlay:45-53``), the overlay name is appended to
META_DATA (``Overlays.scala:9-17``), and a LayerCreator refuses to rerun an
applied overlay or run with missing dependencies
(``LayerCreator.scala:18-29``). Pass wall time is logged
(``CpgPass.scala:130-139``).

Spark translation (SURVEY.md §3.2): each pass is a DataFrame job whose
outputs land in one **atomically committed overlay directory** —
``warehouse/overlays/NN_name/<table>/`` parquet plus a ``_COMMIT.json``
marker written last (the commit point). The marker carries per-table row
counters, per-file row counts and each table's Spark schema, all read from
the footers the write just produced (:func:`footer_stats`: pyarrow on the
driver, no Spark job), plus wall time and the number of Spark jobs the pass
issued (its jobs run in the job group ``pass:<name>``). Reads union all
committed overlays, each read with its recorded schema, so no
schema-inference job runs.

As in the reference, enhancement passes run over the graph earlier passes
committed: ``link_files``, ``decorate`` and ``linking`` read the committed
TURN/MENTION/TOOLCALL/CONVERSATION node rows instead of re-deriving them
from the transcripts.

Resume = rerun the driver: committed overlays are skipped once their
marker's per-file counts match the footers on disk (a mismatch raises); a
half-written overlay has no marker and is overwritten idempotently.
Rollback = drop overlay dirs from index k (the inverse-DiffGraph /
snapshot-rollback analog, ``DiffGraph.scala:258-298``).

In production these directories are Iceberg snapshot commits (one snapshot
per pass, snapshot summary = overlay name); the directory+marker protocol
here is the same optimistic-commit semantics without the Iceberg runtime jar.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .. import schema as S

# The footer key under which Spark stores the schema of each parquet file it
# writes; it is the schema spark.read would infer from that file.
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def footer_stats(path: str) -> tuple[dict[str, int], dict | None]:
    """``(rows per part file, Spark schema JSON)`` of the parquet table at
    ``path``, read from the file footers with pyarrow on the driver — no
    Spark job. Zero-row files (Spark writes one for an empty table, to carry
    the schema) are left out of the counts. A missing directory has no
    files and no schema."""
    names = sorted(os.listdir(path)) if os.path.isdir(path) else []
    rows: dict[str, int] = {}
    schema = None
    for f in names:
        if not f.endswith(".parquet"):
            continue
        meta = pq.read_metadata(os.path.join(path, f))
        if meta.num_rows:
            rows[f] = meta.num_rows
        if schema is None:
            schema = json.loads(meta.metadata[SPARK_SCHEMA_KEY])
    return rows, schema


@dataclass
class PassContext:
    spark: SparkSession
    catalog: "Catalog"
    transcripts: DataFrame
    alias_dict: DataFrame


@dataclass
class Pass:
    """A pipeline stage: returns {table_name: DataFrame} to commit as one
    overlay. ``depends_on`` lists overlay names that must already be
    committed (LayerCreator.dependsOn semantics)."""

    name: str
    run: Callable[[PassContext], dict[str, DataFrame]]
    depends_on: tuple[str, ...] = ()


class Catalog:
    """Directory-backed overlay store with atomic commit markers."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        self.overlays_dir = os.path.join(warehouse, "overlays")
        os.makedirs(self.overlays_dir, exist_ok=True)

    # -- overlay bookkeeping ------------------------------------------------

    def committed_overlays(self) -> list[dict]:
        """Ordered list of commit records (the META_DATA.OVERLAYS analog)."""
        out = []
        if not os.path.isdir(self.overlays_dir):
            return out
        for d in sorted(os.listdir(self.overlays_dir)):
            marker = os.path.join(self.overlays_dir, d, "_COMMIT.json")
            if os.path.exists(marker):
                with open(marker) as fh:
                    out.append(json.load(fh))
        return out

    def overlay_names(self) -> list[str]:
        return [c["overlay"] for c in self.committed_overlays()]

    def _overlay_dir(self, index: int, name: str) -> str:
        return os.path.join(self.overlays_dir, f"{index:02d}_{name}")

    def commit_overlay(
        self,
        index: int,
        name: str,
        tables: dict[str, DataFrame],
        jobs: Callable[[], int] | None = None,
    ) -> dict:
        """Write all tables, then the marker — the marker IS the commit.
        Reruns of an uncommitted overlay overwrite leftovers idempotently.
        ``jobs``, when given, counts the Spark jobs issued for this overlay;
        its count at commit time is recorded as ``jobs``."""
        d = self._overlay_dir(index, name)
        if os.path.isdir(d) and not os.path.exists(os.path.join(d, "_COMMIT.json")):
            shutil.rmtree(d)  # half-failed previous attempt
        t0 = time.time()
        partition_rows: dict[str, dict[str, int]] = {}
        schemas: dict[str, dict] = {}
        for tname, df in tables.items():
            path = os.path.join(d, tname)
            if tname == "nodes":
                # sort within partitions by (label, full_name, id): parquet
                # min/max column stats then prune label/full_name scans —
                # the CpgLoader.createIndexes FULL_NAME-index analog
                # (Iceberg sort-order + bloom filter in production).
                df = df.sortWithinPartitions("label", "full_name", "id")
            elif tname == "edges":
                df = df.sortWithinPartitions("label", "src", "dst")
            df.write.mode("overwrite").parquet(path)
            # per-partition lineage (north_rule) from the footers the write
            # just produced, without a Spark job: the row count per written
            # file, so a resume can pinpoint exactly which file disagrees
            # with its marker, and the schema, so reads skip inference.
            partition_rows[tname], schemas[tname] = footer_stats(path)
        record = {
            "overlay": name,
            "pass_index": index,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "wall_seconds": round(time.time() - t0, 3),
            "counters": {t: sum(r.values()) for t, r in partition_rows.items()},
            "lineage": {
                "tables": sorted(tables),
                "warehouse": self.warehouse,
                "partition_rows": partition_rows,
                "schemas": schemas,
            },
        }
        if jobs is not None:
            record["jobs"] = jobs()
        tmp = os.path.join(d, "_COMMIT.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(record, fh, indent=1)
        os.replace(tmp, os.path.join(d, "_COMMIT.json"))
        return record

    def check_commit(self, record: dict) -> None:
        """Reconcile a commit marker with the files on disk: every table's
        per-file row counts, re-read from the parquet footers (no Spark
        job), must equal the marker's ``partition_rows``. Raises
        ``RuntimeError`` naming the overlay, table and file that differ."""
        d = self._overlay_dir(record["pass_index"], record["overlay"])
        for tname, want in record["lineage"]["partition_rows"].items():
            got, _ = footer_stats(os.path.join(d, tname))
            for f in sorted(want.keys() | got.keys()):
                if want.get(f) != got.get(f):
                    raise RuntimeError(
                        f"overlay {record['overlay']}: table {tname} file {f} "
                        f"has {got.get(f, 0)} rows on disk, its commit marker "
                        f"records {want.get(f, 0)}"
                    )

    def compact(self, dest_warehouse: str, files_per_table: int = 8) -> "Catalog":
        """TrimPass analog (A20, ``semanticcpg/.../trim/TrimPass``) as a
        storage job: rewrite ALL committed overlays into one compacted base
        overlay in a fresh warehouse — identical union content, bounded file
        count per table, re-sorted within partitions (commit_overlay's
        min/max-pruning sort). The Iceberg production form is
        ``rewrite_data_files`` + ``expire_snapshots``; locally it is the same
        read-union-rewrite with the directory+marker commit."""
        names: set[str] = set()
        for c in self.committed_overlays():
            names.update(c["lineage"]["tables"])
        tables = {
            n: self.read_table(n).coalesce(files_per_table) for n in sorted(names)
        }
        dest = Catalog(self.spark, dest_warehouse)
        dest.commit_overlay(0, "compacted", tables)
        return dest

    def build_index(self, col: str = "full_name", n_buckets: int = 64) -> str:
        """FULL_NAME index — the ``CpgLoader.createIndexes`` analog
        (``codepropertygraph/.../cpgloading/CpgLoader.scala:49-62`` builds an
        OverflowDb index on FULL_NAME for Linker lookups). Spark-idiomatic
        form: a materialized index TABLE, hash-partitioned into
        ``n_buckets`` directories on ``pmod(xxhash64(col), n_buckets)`` and
        sorted by (col, id) within each — a point lookup prunes to exactly
        one directory (Catalyst PartitionFilters, the other n-1 are never
        listed) and row-group min/max stats skip within it. On Iceberg this
        is a sort-order + bloom filter; plain parquet gets the same two
        pruning levels from layout alone. Rows with NULL ``col`` land in the
        default partition and are not indexed (lookups are by value).
        Rebuild after new overlays commit — the index is a derived artifact,
        not a source of truth."""
        nodes = self.nodes()
        path = os.path.join(self.warehouse, f"index_{col}")
        (
            nodes.withColumn(
                "__bucket", F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets))
            )
            .repartition(n_buckets, "__bucket")
            .sortWithinPartitions(col, "id")
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(path)
        )
        with open(os.path.join(path, "_INDEX.json"), "w") as fh:
            json.dump({"col": col, "n_buckets": n_buckets}, fh)
        return path

    def lookup(self, value: str, col: str = "full_name") -> DataFrame:
        """Point lookup through the :meth:`build_index` table. The bucket
        predicate compares the partition column to a CONSTANT-FOLDABLE
        expression (xxhash64 of a literal), so Catalyst turns it into a
        partition filter — one directory listed, one read."""
        path = os.path.join(self.warehouse, f"index_{col}")
        with open(os.path.join(path, "_INDEX.json")) as fh:
            meta = json.load(fh)
        df = self.spark.read.parquet(path)
        return (
            df.where(
                F.col("__bucket")
                == F.pmod(F.xxhash64(F.lit(value)), F.lit(meta["n_buckets"]))
            )
            .where(F.col(col) == value)
            .drop("__bucket")
        )

    def rollback_to(self, index: int) -> None:
        """Drop overlays with pass_index > index (snapshot rollback)."""
        for d in sorted(os.listdir(self.overlays_dir)):
            try:
                i = int(d.split("_", 1)[0])
            except ValueError:
                continue
            if i > index:
                shutil.rmtree(os.path.join(self.overlays_dir, d))

    # -- table reads --------------------------------------------------------

    def read_table(self, table: str) -> DataFrame | None:
        """Union of a table across all committed overlays, each read with the
        schema its marker recorded, so no schema-inference job runs (a
        marker without schemas falls back to inference)."""
        parts = []
        for c in self.committed_overlays():
            d = self._overlay_dir(c["pass_index"], c["overlay"])
            path = os.path.join(d, table)
            if os.path.isdir(path):
                schema = c["lineage"].get("schemas", {}).get(table)
                reader = self.spark.read
                if schema:
                    reader = reader.schema(StructType.fromJson(schema))
                parts.append(reader.parquet(path))
        if not parts:
            return None
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def nodes(self) -> DataFrame | None:
        """Union of node rows across overlays, with any committed
        ``node_props`` UPDATE overlays merged on read (SetNodeProperty at
        pipeline scale — the additive overlay store stays append-only; the
        merge happens at read time, Iceberg merge-on-read semantics)."""
        base = self.read_table("nodes")
        if base is None:
            return None
        updates = self.read_table("node_props")
        if updates is None:
            return base
        from . import diff

        return diff.set_node_props(base, updates)

    def edges(self) -> DataFrame | None:
        return self.read_table("edges")

    def meta(self) -> DataFrame:
        recs = self.committed_overlays()
        return self.spark.createDataFrame(
            [
                (
                    r["overlay"],
                    r["pass_index"],
                    r["committed_at"],
                    r["wall_seconds"],
                    {k: str(v) for k, v in r["counters"].items()},
                )
                for r in recs
            ],
            "overlay string, pass_index int, committed_at string, wall_seconds double, counters map<string,string>",
        )


# ---------------------------------------------------------------------------
# the standard pass list (Scpg.run analog, Scpg.scala:38-131)
# ---------------------------------------------------------------------------


def _meta_pass(ctx: PassContext) -> dict[str, DataFrame]:
    """CMetaDataPass analog (A1): singleton META_DATA node."""
    from ..ids import LABEL_BASE

    df = ctx.spark.createDataFrame(
        [(LABEL_BASE[S.META_DATA] + 1, S.META_DATA)], "id long, label string"
    ).select(
        "id",
        "label",
        F.lit("transcripts-kg").alias("name"),
        F.lit(None).cast("string").alias("full_name"),
        F.lit(None).cast("string").alias("code"),
        F.lit(None).cast("int").alias("order"),
        F.lit(None).cast("string").alias("conv_id"),
        F.lit(None).cast("int").alias("turn_idx"),
        F.create_map(F.lit("language"), F.lit("TRANSCRIPT")).alias("props"),
    )
    return {"nodes": df}


def _base_layer_pass(ctx: PassContext) -> dict[str, DataFrame]:
    """A2/A4/A15 analog: conversation + turn nodes, AST/NEXT/CONTAINS."""
    from ..operators import graph as G

    nodes = G.conversation_nodes(ctx.transcripts).unionByName(
        G.turn_nodes(ctx.transcripts)
    )
    edges = (
        G.ast_edges(ctx.transcripts, ctx.alias_dict)
        .unionByName(G.next_edges(ctx.transcripts))
        .unionByName(G.contains_edges(ctx.transcripts, ctx.alias_dict))
    )
    return {"nodes": nodes, "edges": edges}


def _extraction_pass(ctx: PassContext) -> dict[str, DataFrame]:
    """A2/A3 analog: mention + toolcall nodes."""
    from ..operators import graph as G

    nodes = G.mention_nodes(ctx.transcripts, ctx.alias_dict).unionByName(
        G.toolcall_nodes(ctx.transcripts)
    )
    return {"nodes": nodes}


def _committed_nodes(ctx: PassContext, *labels: str) -> DataFrame:
    """The committed node rows carrying one of ``labels`` — what the
    overlays applied so far hold, not a re-derivation from transcripts."""
    nodes = ctx.catalog.read_table("nodes")
    return nodes.where(F.col("label").isin(list(labels)))


def _decorate_pass(ctx: PassContext) -> dict[str, DataFrame]:
    """MethodDecoratorPass analog (A8): 1:1 DERIVED node properties —
    per-turn token and clause counts of the committed TURN rows — committed
    as a ``node_props`` update overlay that :meth:`Catalog.nodes` merges on
    read. The store stays append-only (one immutable overlay per pass);
    updates are relational rows, exactly the reference's SetNodeProperty
    diff entries."""
    turns = _committed_nodes(ctx, S.TURN)
    n_tokens = turns.select(
        "id",
        F.lit("n_tokens").alias("key"),
        F.size(F.split("code", " ")).cast("string").alias("value"),
    )
    n_clauses = turns.select(
        "id",
        F.lit("n_preds").alias("key"),
        F.size(
            F.filter(
                F.split("code", " "), lambda t: t.isin(list(S.TEXT_PREDICATES))
            )
        )
        .cast("string")
        .alias("value"),
    )
    return {"node_props": n_tokens.unionByName(n_clauses)}


def _link_files_pass(ctx: PassContext) -> dict[str, DataFrame]:
    """FileLinker analog (A11): SOURCE_FILE edges from every committed
    within-conversation node (TURN/MENTION/TOOLCALL) to its committed
    CONVERSATION node, plus stub file nodes for keys with no existing node
    (none in a fresh build, where ``nodes`` commits empty — the fallback
    matters for overlay/diff scenarios where the file table is stale)."""
    from ..operators import linking

    files = _committed_nodes(ctx, S.CONVERSATION)
    srcs = _committed_nodes(ctx, S.TURN, S.MENTION, S.TOOLCALL).select("id", "conv_id")
    edges, created = linking.link_source_files(srcs, files)
    return {"edges": edges, "nodes": created}


def _canonicalize_pass(ctx: PassContext) -> dict[str, DataFrame]:
    """Stage-4 analog (A16 + CC): the merge map, committed as its own
    overlay so downstream passes read a frozen artifact."""
    from ..operators import canonicalize

    return {"merge_map": canonicalize.merge_map(ctx.alias_dict)}


def _linking_pass(ctx: PassContext) -> dict[str, DataFrame]:
    """A6/A7/A10/A13 analog: entity nodes (incl. stubs), REF + CALL edges,
    linked from the committed MENTION/TOOLCALL rows through the committed
    merge map."""
    from ..operators import graph as G

    merge = ctx.catalog.read_table("merge_map")
    mentions = _committed_nodes(ctx, S.MENTION)
    toolcalls = _committed_nodes(ctx, S.TOOLCALL)
    nodes = G.entity_nodes(mentions, toolcalls, ctx.alias_dict, merge)
    edges = G.ref_edges(mentions, ctx.alias_dict, merge).unionByName(
        G.call_edges(toolcalls, ctx.alias_dict, merge)
    )
    return {"nodes": nodes, "edges": edges}


def _rel_pass(ctx: PassContext) -> dict[str, DataFrame]:
    """REL triple edges + the flat triples projection (the flagship). The
    triples are computed once and persisted for both tables;
    :func:`run_pipeline` unpersists them after the commit."""
    from ..operators import graph as G, kg

    merge = ctx.catalog.read_table("merge_map")
    triples = kg.final_triples(ctx.transcripts, ctx.alias_dict, merge=merge).persist()
    return {"edges": G.rel_edges(triples), "triples": triples}


def _validate_pass(ctx: PassContext) -> dict[str, DataFrame]:
    """cpgvalidator analog as a pipeline stage: the violations table is
    committed as an overlay so downstream consumers (and the meta counters)
    record conformance; an empty table = conformant graph."""
    return {"violations": validate(ctx.catalog)}


STANDARD_PASSES: tuple[Pass, ...] = (
    Pass("meta_data", _meta_pass),
    Pass("base_layer", _base_layer_pass, depends_on=("meta_data",)),
    Pass("extraction", _extraction_pass, depends_on=("base_layer",)),
    Pass("link_files", _link_files_pass, depends_on=("extraction",)),
    Pass("decorate", _decorate_pass, depends_on=("base_layer",)),
    Pass("canonicalize", _canonicalize_pass, depends_on=("extraction",)),
    Pass("linking", _linking_pass, depends_on=("canonicalize",)),
    Pass("rel_triples", _rel_pass, depends_on=("linking",)),
    Pass("validate", _validate_pass, depends_on=("rel_triples",)),
)


@contextmanager
def _job_group(spark: SparkSession, name: str):
    """Run the block's Spark jobs in the job group ``pass:<name>``, then
    restore the caller's group. Yields a function that counts the jobs the
    block has issued so far."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in keys}
    group = f"pass:{name}"
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(group))
    sc.setJobGroup(group, f"pipeline pass {name}")

    def jobs() -> int:
        # the status tracker is fed by the listener bus; drain it first so
        # that the last job started is counted
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(set(tracker.getJobIdsForGroup(group)) - before)

    try:
        yield jobs
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    alias_dict: DataFrame,
    warehouse: str,
    passes: tuple[Pass, ...] = STANDARD_PASSES,
) -> Catalog:
    """Run the ordered pass list with skip-if-applied resume semantics. An
    applied overlay is skipped after :meth:`Catalog.check_commit`; each
    other pass runs and commits in its own job group (see
    :func:`_job_group`), and its commit record counts the jobs."""
    cat = Catalog(spark, warehouse)
    ctx = PassContext(spark, cat, transcripts, alias_dict)
    for i, p in enumerate(passes):
        committed = {c["overlay"]: c for c in cat.committed_overlays()}
        if p.name in committed:
            cat.check_commit(committed[p.name])
            continue  # LayerCreator: already applied
        missing = [d for d in p.depends_on if d not in committed]
        if missing:
            raise RuntimeError(f"pass {p.name}: missing dependencies {missing}")
        with _job_group(spark, p.name) as jobs:
            tables = p.run(ctx)
            try:
                rec = cat.commit_overlay(i, p.name, tables, jobs=jobs)
            finally:
                for df in tables.values():
                    if df.is_cached:
                        df.unpersist()
        print(
            f"[pass {i} {p.name}] {rec['wall_seconds']}s jobs={rec['jobs']} "
            f"counters={rec['counters']}"
        )
    return cat


# ---------------------------------------------------------------------------
# validator (cpgvalidator analog)
# ---------------------------------------------------------------------------


def validate(catalog: Catalog) -> DataFrame:
    """Schema-conformance check over a catalog's committed graph — see
    :func:`validate_frames`."""
    return validate_frames(catalog.spark, catalog.nodes(), catalog.edges())


def validate_frames(
    spark: SparkSession, all_nodes: DataFrame, edges: DataFrame
) -> DataFrame:
    """Schema-conformance check: every edge endpoint must exist, every
    (src_label, edge_label, dst_label) must be in schema.EDGE_FACTS
    (``CpgValidator.scala:8-14``), node labels/keys must conform, and the
    declared edge cardinalities must hold. Returns a DataFrame of violations
    (empty = conformant). Works on bare node/edge frames so any graph —
    catalog-committed or built ad hoc — can be validated."""
    nodes = all_nodes.select("id", F.col("label").alias("node_label"))
    src_n = nodes.select(
        F.col("id").alias("src"), F.col("node_label").alias("src_label")
    )
    dst_n = nodes.select(
        F.col("id").alias("dst"), F.col("node_label").alias("dst_label")
    )
    joined = edges.join(src_n, "src", "left").join(dst_n, "dst", "left")
    facts = spark.createDataFrame(
        sorted(S.EDGE_FACTS), "src_label string, edge_label string, dst_label string"
    ).withColumn("allowed", F.lit(True))
    checked = joined.join(
        F.broadcast(facts),
        (joined.src_label == facts.src_label)
        & (joined.label == facts.edge_label)
        & (joined.dst_label == facts.dst_label),
        "left",
    )
    # a violation is a missing endpoint (null label) or a disallowed fact
    edge_violations = checked.where(F.col("allowed").isNull()).select(
        F.lit("edge_fact").alias("kind"),
        F.coalesce(joined.src_label, F.lit("<missing>")).alias("src_label"),
        F.col("label").alias("edge_label"),
        F.coalesce(joined.dst_label, F.lit("<missing>")).alias("dst_label"),
        "src",
        "dst",
    )
    # required-property checks (node-key conformance, the cpgvalidator
    # key-facts side): labels must come from the declared set and carry
    # their identity-critical properties.
    n = all_nodes
    bad_label = ~F.col("label").isin(list(S.NODE_LABELS))
    missing_key = (
        ((F.col("label") == S.ENTITY) & F.col("full_name").isNull())
        | (F.col("label").isin([S.TURN, S.MENTION, S.TOOLCALL]) & F.col("conv_id").isNull())
        | ((F.col("label") == S.CONVERSATION) & F.col("conv_id").isNull())
    )
    node_violations = n.where(bad_label | missing_key).select(
        F.lit("node_keys").alias("kind"),
        F.col("label").alias("src_label"),
        F.lit(None).cast("string").alias("edge_label"),
        F.lit(None).cast("string").alias("dst_label"),
        F.col("id").alias("src"),
        F.lit(None).cast("long").alias("dst"),
    )
    # edge-cardinality checks (the reference's ValidationFacts side,
    # CpgValidator.scala:8-14: out/in edge cardinalities declared in the
    # schema). One aggregation per direction over the edges table, then a
    # broadcast probe of the declared facts; a node violates when its count
    # for (direction, edge_label) falls outside [min, max].
    facts = spark.createDataFrame(
        [
            (nl, d, el, lo, hi if hi is not None else 1 << 30)
            for nl, d, el, lo, hi in S.CARDINALITY_FACTS
        ],
        "node_label string, direction string, edge_label string, lo int, hi int",
    )
    card_violations = None
    for direction, end_col in (("out", "src"), ("in", "dst")):
        dir_facts = F.broadcast(
            facts.where(F.col("direction") == direction).drop("direction")
        )
        counts = (
            edges.groupBy(F.col(end_col).alias("id"), F.col("label").alias("edge_label"))
            .agg(F.count("*").alias("cnt"))
        )
        checked_n = (
            nodes.withColumnRenamed("node_label", "label")
            .join(dir_facts, F.col("label") == F.col("node_label"))
            .join(counts, ["id", "edge_label"], "left")
            .withColumn("cnt", F.coalesce("cnt", F.lit(0)))
        )
        v = checked_n.where(
            (F.col("cnt") < F.col("lo")) | (F.col("cnt") > F.col("hi"))
        ).select(
            F.concat(F.lit("cardinality_"), F.lit(direction)).alias("kind"),
            F.col("label").alias("src_label"),
            F.col("edge_label"),
            F.lit(None).cast("string").alias("dst_label"),
            F.col("id").alias("src"),
            F.lit(None).cast("long").alias("dst"),
        )
        card_violations = v if card_violations is None else card_violations.unionByName(v)
    return edge_violations.unionByName(node_violations).unionByName(card_violations)
