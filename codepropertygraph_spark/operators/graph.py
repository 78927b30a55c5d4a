"""Node/edge table construction — the DiffGraph "CreateNode/CreateEdge" side.

Builds the typed node and edge DataFrames of the transcript knowledge graph
(schemas in :mod:`codepropertygraph_spark.schema`, FIXTURES.md §5), with
deterministic content-addressed ids (:mod:`codepropertygraph_spark.ids` —
the KeyPool analog). Each builder is a pure projection/join — the Spark
translation of ``NewNode`` emission in the reference's passes:

- conversation/turn nodes + AST/NEXT/CONTAINS edges ≈ ``AstCreationPass`` /
  ``CfgCreationPass`` / ``ContainsEdgePass`` (A2/A4/A15 in SURVEY.md §2.A)
- mention/toolcall nodes ≈ IDENTIFIER/CALL emission (``AstCreator``)
- entity nodes (incl. external stubs) ≈ ``TypeNodePass`` + ``MethodStubCreator``
  (A6/A7): distinct-used-names sorted before id assignment for determinism
  (``TypeNodePass.scala:11``)
- REF edges ≈ ``Linker.linkToSingle`` (A10), CALL edges ≈ ``CallLinker`` (A13)
- REL edges carry the predicate in ``props['pred']`` like ``REACHING_DEF``
  carries ``VARIABLE`` (``schemas/enhancements.json:12,256``)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schema as S
from ..ids import hash_id_col, natural_key
from . import extraction, linking, ordering


def _node_frame(
    df: DataFrame,
    label: str,
    key,
    name=None,
    full_name=None,
    code=None,
    order=None,
    conv_id=None,
    turn_idx=None,
    props=None,
) -> DataFrame:
    lit_null = F.lit(None)
    return df.select(
        hash_id_col(label, key).alias("id"),
        F.lit(label).alias("label"),
        (name if name is not None else lit_null).cast("string").alias("name"),
        (full_name if full_name is not None else lit_null).cast("string").alias("full_name"),
        (code if code is not None else lit_null).cast("string").alias("code"),
        (order if order is not None else lit_null).cast("int").alias("order"),
        (conv_id if conv_id is not None else lit_null).cast("string").alias("conv_id"),
        (turn_idx if turn_idx is not None else lit_null).cast("int").alias("turn_idx"),
        (props if props is not None else F.create_map().cast("map<string,string>")).alias("props"),
    )


def _edge_frame(df: DataFrame, label: str, src, dst, props=None) -> DataFrame:
    return df.select(
        src.alias("src"),
        dst.alias("dst"),
        F.lit(label).alias("label"),
        (props if props is not None else F.create_map().cast("map<string,string>")).alias("props"),
    )


def conv_key(conv_col=None):
    if conv_col is None:
        conv_col = F.col("conv_id")
    return natural_key(S.CONVERSATION, conv_col)


def turn_key(conv_col=None, order_col=None):
    if conv_col is None:
        conv_col = F.col("conv_id")
    if order_col is None:
        order_col = F.col("turn_order")
    return natural_key(S.TURN, conv_col, order_col.cast("string"))


def conversation_nodes(transcripts: DataFrame) -> DataFrame:
    convs = transcripts.groupBy("conv_id").agg(F.count("*").alias("n_turns"))
    return _node_frame(
        convs,
        S.CONVERSATION,
        conv_key(),
        name=F.col("conv_id"),
        conv_id=F.col("conv_id"),
        props=F.create_map(F.lit("n_turns"), F.col("n_turns").cast("string")),
    )


def turn_nodes(transcripts: DataFrame) -> DataFrame:
    t = ordering.ordered_turns(transcripts)
    return _node_frame(
        t,
        S.TURN,
        turn_key(),
        name=F.col("role"),
        code=F.col("text"),
        order=F.col("turn_order"),
        conv_id=F.col("conv_id"),
        turn_idx=F.col("turn_idx"),
        props=F.map_filter(
            F.create_map(
                F.lit("role"), F.col("role"),
                F.lit("tool"), F.col("tool"),
                F.lit("ts"), F.col("ts").cast("string"),
            ),
            lambda _, v: v.isNotNull(),
        ),
    )


def _ordered_mentions(transcripts: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """mention occurrences with the stable turn_order attached."""
    m = extraction.mention_surfaces(transcripts, alias_dict)
    t = ordering.ordered_turns(transcripts).select("conv_id", "turn_idx", "ts", "turn_order")
    return m.join(t, ["conv_id", "turn_idx", "ts"])


def mention_nodes(transcripts: DataFrame, alias_dict: DataFrame) -> DataFrame:
    m = _ordered_mentions(transcripts, alias_dict)
    key = natural_key(
        S.MENTION,
        F.col("conv_id"),
        F.col("turn_order").cast("string"),
        F.col("pos").cast("string"),
    )
    return _node_frame(
        m,
        S.MENTION,
        key,
        name=F.col("surface"),
        code=F.col("surface"),
        order=F.col("pos"),
        conv_id=F.col("conv_id"),
        turn_idx=F.col("turn_idx"),
    )


def toolcall_nodes(transcripts: DataFrame) -> DataFrame:
    t = ordering.ordered_turns(transcripts).where(F.col("tool").isNotNull())
    key = natural_key(S.TOOLCALL, F.col("conv_id"), F.col("turn_order").cast("string"))
    return _node_frame(
        t,
        S.TOOLCALL,
        key,
        name=F.col("tool"),
        order=F.col("turn_order"),
        conv_id=F.col("conv_id"),
        turn_idx=F.col("turn_idx"),
    )


def _linked_names(df: DataFrame, alias_dict: DataFrame, merge: DataFrame) -> DataFrame:
    """``df`` plus ``canonical``: its ``name`` column (a mention surface or a
    tool) resolved through the scored dictionary, then the merge map."""
    linked = linking.link_surfaces(df, alias_dict, "name", "canonical")
    return linking.apply_merge(linked, merge, "canonical")


def entity_nodes(
    mentions: DataFrame, toolcalls: DataFrame, alias_dict: DataFrame, merge: DataFrame
) -> DataFrame:
    """Distinct post-merge canonical entities used anywhere — the resolved
    names of the MENTION nodes (subjects, objects, first mentions) AND of the
    TOOLCALL nodes (the ``tool`` column) — plus dictionary type info;
    external stubs get is_external=true (MethodStubCreator semantics).
    ``mentions``/``toolcalls`` are MENTION/TOOLCALL node frames, committed or
    fresh from :func:`mention_nodes`/:func:`toolcall_nodes`.

    The tool union is load-bearing: ``call_edges`` links TOOLCALL →
    resolved(tool), so every canonical the tool column resolves to must have
    an ENTITY node even when the tool alias never appears as a text token —
    otherwise the committed graph carries dangling CALL edges that the
    validator flags and traversals silently drop."""
    names = mentions.select("name").unionByName(toolcalls.select("name"))
    used = (
        _linked_names(names, alias_dict, merge)
        .select(F.col("canonical").alias("full_name"))
        .distinct()
    )
    types = F.broadcast(
        linking.best_alias(alias_dict)
        .select(F.col("canonical_name"), F.col("entity_type"))
        .distinct()
        .groupBy("canonical_name")
        .agg(F.min("entity_type").alias("entity_type"))
    )
    e = used.join(types, used.full_name == types.canonical_name, "left")
    return _node_frame(
        e,
        S.ENTITY,
        natural_key(S.ENTITY, F.col("full_name")),
        name=F.col("full_name"),
        full_name=F.col("full_name"),
        props=F.create_map(
            F.lit("entity_type"), F.coalesce(F.col("entity_type"), F.lit("EXTERNAL")),
            F.lit("is_external"),
            F.col("full_name").startswith(S.EXTERNAL_PREFIX).cast("string"),
        ),
    )


def ast_edges(transcripts: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """CONVERSATION->TURN, TURN->MENTION, TURN->TOOLCALL containment."""
    t = ordering.ordered_turns(transcripts)
    conv_turn = _edge_frame(
        t, S.AST, hash_id_col(S.CONVERSATION, conv_key()), hash_id_col(S.TURN, turn_key())
    )
    m = _ordered_mentions(transcripts, alias_dict)
    mention_key = natural_key(
        S.MENTION, F.col("conv_id"), F.col("turn_order").cast("string"), F.col("pos").cast("string")
    )
    turn_mention = _edge_frame(
        m, S.AST, hash_id_col(S.TURN, turn_key()), hash_id_col(S.MENTION, mention_key)
    )
    tc = t.where(F.col("tool").isNotNull())
    tc_key = natural_key(S.TOOLCALL, F.col("conv_id"), F.col("turn_order").cast("string"))
    turn_tc = _edge_frame(
        tc, S.AST, hash_id_col(S.TURN, turn_key()), hash_id_col(S.TOOLCALL, tc_key)
    )
    return conv_turn.unionByName(turn_mention).unionByName(turn_tc)


def next_edges(transcripts: DataFrame) -> DataFrame:
    n = ordering.next_edges(transcripts)
    return _edge_frame(
        n,
        S.NEXT,
        hash_id_col(S.TURN, turn_key(order_col=F.col("src_order"))),
        hash_id_col(S.TURN, turn_key(order_col=F.col("dst_order"))),
    )


def contains_edges(transcripts: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """Transitive-containment shortcuts CONVERSATION->{TURN,MENTION,TOOLCALL}
    (ContainsEdgePass analog A15). Computed directly — the parent id is a
    function of conv_id, no iterative closure needed for depth-2 trees."""
    t = ordering.ordered_turns(transcripts)
    c_turn = _edge_frame(
        t, S.CONTAINS, hash_id_col(S.CONVERSATION, conv_key()), hash_id_col(S.TURN, turn_key())
    )
    m = _ordered_mentions(transcripts, alias_dict)
    mention_key = natural_key(
        S.MENTION, F.col("conv_id"), F.col("turn_order").cast("string"), F.col("pos").cast("string")
    )
    c_mention = _edge_frame(
        m, S.CONTAINS, hash_id_col(S.CONVERSATION, conv_key()), hash_id_col(S.MENTION, mention_key)
    )
    tc = t.where(F.col("tool").isNotNull())
    tc_key = natural_key(S.TOOLCALL, F.col("conv_id"), F.col("turn_order").cast("string"))
    c_tc = _edge_frame(
        tc, S.CONTAINS, hash_id_col(S.CONVERSATION, conv_key()), hash_id_col(S.TOOLCALL, tc_key)
    )
    return c_turn.unionByName(c_mention).unionByName(c_tc)


def ref_edges(mentions: DataFrame, alias_dict: DataFrame, merge: DataFrame) -> DataFrame:
    """MENTION --REF--> ENTITY (Linker.linkToSingle semantics) from MENTION
    node rows."""
    return _edge_frame(
        _linked_names(mentions, alias_dict, merge),
        S.REF,
        F.col("id"),
        hash_id_col(S.ENTITY, natural_key(S.ENTITY, F.col("canonical"))),
    )


def call_edges(toolcalls: DataFrame, alias_dict: DataFrame, merge: DataFrame) -> DataFrame:
    """TOOLCALL --CALL--> ENTITY from TOOLCALL node rows: the tool name
    resolved through the dictionary (CallLinker static-dispatch analog)."""
    return _edge_frame(
        _linked_names(toolcalls, alias_dict, merge),
        S.CALL,
        F.col("id"),
        hash_id_col(S.ENTITY, natural_key(S.ENTITY, F.col("canonical"))),
    )


def rel_edges(triples: DataFrame) -> DataFrame:
    """ENTITY --REL--> ENTITY edges, one per distinct (conv_id, subj, pred,
    obj) triple (:func:`kg.final_triples`); props carry pred + conv_id
    (REACHING_DEF VARIABLE-property pattern)."""
    return _edge_frame(
        triples,
        S.REL,
        hash_id_col(S.ENTITY, natural_key(S.ENTITY, F.col("subj"))),
        hash_id_col(S.ENTITY, natural_key(S.ENTITY, F.col("obj"))),
        props=F.create_map(
            F.lit("pred"), F.col("pred"), F.lit("conv_id"), F.col("conv_id")
        ),
    )
