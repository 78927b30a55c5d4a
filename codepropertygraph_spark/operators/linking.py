"""Entity linking — exact-key + scored-candidate resolution with stubs.

Mirrors the reference's two linking strategies:

- exact key: ``Linker.linkToSingle`` joins occurrence key → full-name map
  (``semanticcpg/.../linking/linker/Linker.scala:202-242``; maps built in
  ``initMaps:122-130``) → here a **broadcast hash join** of the token stream
  against the alias dictionary.
- scored dispatch: ``CallLinker`` falls back from static full-name match to
  walking candidate bindings and matching (name, signature)
  (``CallLinker.scala:52-81``) → here, ambiguous surfaces (one alias, many
  canonicals) produce candidate rows scored by ``prior``; a window
  ``row_number() == 1`` keeps the winner (tie-break: lexicographically
  smallest canonical_name, the reference's deterministic-sort discipline,
  ``TypeNodePass.scala:11``).
- unresolved: the reference synthesizes external stubs by anti-join
  (``MethodStubCreator.scala:16-108``) → surfaces with no dictionary entry
  link to ``external:<surface>`` stub entities.

Skew notes (north_rule): the dictionary side is broadcast, so hub entities
(one entity in 30%+ of conversations) cause **no shuffle skew** — every
executor probes its local hash map, exactly like the reference's RAM map but
partition-parallel. Aggregations over linked mentions downstream use
two-phase partial+merge (Spark's default hash aggregate) so hub keys are
pre-combined map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import schema as S


def best_alias(alias_dict: DataFrame) -> DataFrame:
    """(alias, canonical_name, entity_type): the winning candidate per
    surface form — max prior, tie-break min canonical_name."""
    w = Window.partitionBy("alias").orderBy(
        F.col("prior").desc(), F.col("canonical_name").asc()
    )
    return (
        alias_dict.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("alias", "canonical_name", "entity_type")
    )


def link_surfaces(
    df: DataFrame, alias_dict: DataFrame, surface_col: str, out_col: str
) -> DataFrame:
    """Resolve ``surface_col`` → canonical name in ``out_col`` via broadcast
    join against the scored dictionary; unresolved → external stub name."""
    best = F.broadcast(
        best_alias(alias_dict).select(
            F.col("alias").alias(f"__a_{out_col}"),
            F.col("canonical_name").alias(f"__c_{out_col}"),
        )
    )
    joined = df.join(best, df[surface_col] == F.col(f"__a_{out_col}"), "left")
    return joined.withColumn(
        out_col,
        F.coalesce(
            F.col(f"__c_{out_col}"),
            F.concat(F.lit(S.EXTERNAL_PREFIX), F.col(surface_col)),
        ),
    ).drop(f"__a_{out_col}", f"__c_{out_col}")


def resolve_overrides(
    calls: DataFrame,
    bindings: DataFrame,
    hierarchy: DataFrame,
    max_depth: int = 8,
) -> DataFrame:
    """Method-override resolution — the BindingTable + inheritance-walk side
    of ``CallLinker`` (``BindingTable``/``bindingTableCompat``;
    ``CallLinker.scala:52-81`` falls back from the receiver type along
    inheritsFrom edges to the nearest bound implementation).

    calls:     (site_id, recv_type, name) — dynamic-dispatch call sites
    bindings:  (type, name, target)      — the binding table
    hierarchy: (child, parent)           — inheritance edges

    Returns (site_id, target, depth): the binding found at the SMALLEST
    inheritance distance from the receiver type (depth 0 = bound directly);
    multiple parents at the same depth tie-break on min target (the
    deterministic-sort discipline). Sites with no binding within
    ``max_depth`` resolve to an ``external:<name>`` stub (MethodStubCreator
    fallback). Driver loop bounded by hierarchy height; each level is one
    broadcast join of the (small) bindings/hierarchy tables."""
    b = F.broadcast(
        bindings.select(
            F.col("type").alias("__bt"),
            F.col("name").alias("__bn"),
            F.col("target").alias("__target"),
        )
    )
    h = F.broadcast(
        hierarchy.select(F.col("child").alias("__hc"), F.col("parent").alias("__hp"))
    )
    cur = calls.select("site_id", F.col("recv_type").alias("__t"), "name")
    resolved: DataFrame | None = None
    for depth in range(max_depth + 1):
        hit = (
            cur.join(b, (cur["__t"] == F.col("__bt")) & (cur["name"] == F.col("__bn")))
            .groupBy("site_id")
            .agg(F.min("__target").alias("target"))
            .withColumn("depth", F.lit(depth).cast("long"))
        )
        resolved = hit if resolved is None else resolved.unionByName(hit)
        miss = cur.join(hit.select("site_id"), "site_id", "left_anti")
        if miss.isEmpty():
            break
        cur = (
            miss.join(h, miss["__t"] == F.col("__hc"))
            .select("site_id", F.col("__hp").alias("__t"), "name")
            .dropDuplicates(["site_id", "__t"])
        )
        if cur.isEmpty():
            break
    # Stub fallback derived from the ORIGINAL call set, not the loop frontier:
    # every site the walk never resolved (parentless receiver, exhausted
    # hierarchy, or depth bound) becomes an external:<name> stub — so a batch
    # whose only receivers are unbound and parentless still gets stubs.
    unresolved = (
        calls.groupBy("site_id")
        .agg(F.min("name").alias("name"))
        .join(resolved.select("site_id"), "site_id", "left_anti")
    )
    stub = unresolved.select(
        "site_id",
        F.concat(F.lit(S.EXTERNAL_PREFIX), F.col("name")).alias("target"),
        F.lit(-1).cast("long").alias("depth"),
    )
    return resolved.unionByName(stub)


def link_source_files(
    srcs: DataFrame,
    files: DataFrame,
    file_key_col: str = "conv_id",
) -> tuple[DataFrame, DataFrame]:
    """FileLinker analog (A11, ``semanticcpg/.../linking/filecompat/
    FileLinker.scala:22-63``): SOURCE_FILE edges from nodes to their
    file-analog (CONVERSATION) node by name, creating missing file nodes on
    demand with ``order`` continuing past the existing maximum (the
    ``maxFileOrder`` discipline, FileLinker.scala:28-41; the exact-key
    resolution is ``Linker.linkToSingle``, Linker.scala:202-242, with the
    ``createFileIfDoesNotExist`` fallback).

    srcs:  node rows carrying ``id`` and ``file_key_col``.
    files: existing CONVERSATION nodes (``id``, ``name``, ``order``).

    Returns ``(edges, created_files)``: one SOURCE_FILE edge per src node
    (dst = the existing file's id when the key resolves, else the
    content-addressed id the created stub also carries — so edges and stubs
    agree without coordination), plus the created stub file nodes in the
    full node-frame shape.

    Scale shape: the file map is broadcast (same hub argument as
    :func:`link_surfaces` — every executor probes a local hash map, no
    shuffle); the only window runs over the MISSING-key set, which is small
    by construction (files exist for anything extracted in-corpus).
    """
    from ..ids import hash_id_col, natural_key

    key = F.col(file_key_col)
    stub_id = hash_id_col(S.CONVERSATION, natural_key(S.CONVERSATION, key))
    # one candidate per name: the reference's linkToSingle logs and picks one
    # when several file nodes share a name (Linker.scala:213-227); here the
    # min-id candidate wins deterministically, and the dedup preserves the
    # ZERO_OR_ONE SOURCE_FILE cardinality (schema.py) even on a corpus where
    # two CONVERSATION nodes collide on name.
    fmap = F.broadcast(
        files.groupBy(F.col("name").alias("__fname")).agg(
            F.min("id").alias("__fid")
        )
    )
    joined = srcs.join(fmap, key == F.col("__fname"), "left")
    edges = joined.select(
        F.col("id").alias("src"),
        F.coalesce(F.col("__fid"), stub_id).alias("dst"),
        F.lit(S.SOURCE_FILE).alias("label"),
        F.create_map().cast("map<string,string>").alias("props"),
    )
    missing = (
        joined.where(F.col("__fid").isNull())
        .select(key.alias("__key"))
        .dropDuplicates()
    )
    # one-row aggregate, joined lazily: no driver round trip of its own
    base_order = files.agg(F.coalesce(F.max("order"), F.lit(-1)).alias("__base"))
    w = Window.orderBy("__key")  # missing-key set only; deterministic order
    created = missing.crossJoin(base_order).select(
        hash_id_col(S.CONVERSATION, natural_key(S.CONVERSATION, F.col("__key"))).alias("id"),
        F.lit(S.CONVERSATION).alias("label"),
        F.col("__key").cast("string").alias("name"),
        F.lit(None).cast("string").alias("full_name"),
        F.lit(None).cast("string").alias("code"),
        (F.col("__base") + F.row_number().over(w)).cast("int").alias("order"),
        F.col("__key").cast("string").alias("conv_id"),
        F.lit(None).cast("int").alias("turn_idx"),
        F.create_map().cast("map<string,string>").alias("props"),
    )
    return edges, created


def linked_triples_premerge(raw_triples: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """Raw clause triples with subject/object resolved to (pre-merge)
    canonical names. Two broadcast probes of the same tiny dictionary."""
    t = link_surfaces(raw_triples, alias_dict, "subj_surface", "subj_canonical")
    t = link_surfaces(t, alias_dict, "obj_surface", "obj_canonical")
    return t


def apply_merge(
    df: DataFrame, merge_map: DataFrame, col: str, out_col: str | None = None
) -> DataFrame:
    """Rewrite a canonical-name column through the canonicalization merge map
    (broadcast; identity for names without a merge entry)."""
    out_col = out_col or col
    mm = F.broadcast(
        merge_map.select(
            F.col("canonical_name").alias(f"__m_{col}"),
            F.col("merged_name").alias(f"__g_{col}"),
        )
    )
    joined = df.join(mm, df[col] == F.col(f"__m_{col}"), "left")
    return joined.withColumn(
        out_col, F.coalesce(F.col(f"__g_{col}"), F.col(col))
    ).drop(f"__m_{col}", f"__g_{col}")
