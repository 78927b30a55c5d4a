"""Traversal DSL steps, dominators / CDG / reaching-defs, DiffGraph
mutation primitives, exports — golden tests on handcrafted graphs
(the reference's CfgDominatorPassTests / DiffGraphTest / dotgenerator
test pattern)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from codepropertygraph_spark import schema as S
from codepropertygraph_spark.operators import dataflow, exports, traversal
from codepropertygraph_spark.plans import diff as D
from codepropertygraph_spark.plans import pipeline as P


@pytest.fixture(scope="module")
def catalog(spark, transcripts, alias_dict, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_trav"))
    return P.run_pipeline(spark, transcripts, alias_dict, wh)


@pytest.fixture(scope="module")
def g(catalog):
    return traversal.GraphView(catalog.nodes(), catalog.edges())


# -- traversal DSL ------------------------------------------------------------


def test_label_starter_and_counts(g):
    assert g.conversations().count() == 50
    assert g.label(S.META_DATA).count() == 1


def test_out_in_hops(g):
    turns_of_conv = g.conversations().has(name="c000000").out("AST")
    assert turns_of_conv.count() == 200  # mega-conversation: 20x mean(10)
    back = turns_of_conv.in_("AST").dedup()
    assert back.count() == 1
    assert back.collect()[0].name == "c000000"


def test_trait_starter(g):
    n_expr = g.trait_("EXPRESSION").count()
    assert n_expr == g.mentions().count() + g.toolcalls().count()


def test_name_regex_and_where_not_in(g):
    ext = g.entities().name("^external:")
    non_ext = g.entities().where_not_in(ext)
    assert ext.count() > 0
    assert ext.count() + non_ext.count() == g.entities().count()


def test_repeat_out_bounded(g):
    # NEXT chain from the first turn of a conversation: 3 hops reach 4 turns
    first = g.turns().has(conv_id="c000001").has(order=1)
    reached = first.repeat_out("NEXT", max_hops=3)
    n_turns = g.turns().has(conv_id="c000001").count()
    assert reached.count() == min(4, n_turns)


def test_tool_call_resolution_chain(g):
    # TOOLCALL --CALL--> ENTITY: every toolcall resolves to exactly one entity
    ents = g.toolcalls().out("CALL")
    assert ents.df.count() == g.toolcalls().count()


def test_tagging(g):
    tags = g.entities().name("^external:").tag("needs-review")
    rows = tags.collect()
    assert rows and all(r.tag == "needs-review" for r in rows)
    assert len({r.node_id for r in rows}) == len(rows)  # deduped


# -- dominators / CDG / reaching defs -----------------------------------------


def _diamond(spark):
    #      a
    #    /   \
    #   b     c
    #    \   /
    #      d -> e
    edges = spark.createDataFrame(
        [("g", "a", "b"), ("g", "a", "c"), ("g", "b", "d"), ("g", "c", "d"), ("g", "d", "e")],
        "conv_id string, s string, o string",
    )
    entries = spark.createDataFrame([("g", "a")], "conv_id string, entry string")
    exits = spark.createDataFrame([("g", "e")], "conv_id string, exit string")
    return edges, entries, exits


def test_dominators_diamond(spark):
    edges, entries, _ = _diamond(spark)
    idom = {r.node: r.idom for r in dataflow.dominators_grouped(edges, entries).collect()}
    assert idom == {"a": "a", "b": "a", "c": "a", "d": "a", "e": "d"}


def test_post_dominators_via_reverse(spark):
    edges, _, exits = _diamond(spark)
    rev = edges.select("conv_id", F.col("o").alias("s"), F.col("s").alias("o"))
    ipdom = {
        r.node: r.idom
        for r in dataflow.dominators_grouped(
            rev, exits.select("conv_id", F.col("exit").alias("entry"))
        ).collect()
    }
    assert ipdom == {"e": "e", "d": "e", "b": "d", "c": "d", "a": "d"}


def test_control_dependence_diamond(spark):
    edges, _, exits = _diamond(spark)
    cdg = {
        (r.controller, r.dependent)
        for r in dataflow.control_dependence_grouped(edges, exits).collect()
    }
    # b and c are control-dependent on the branch at a; d/e post-dominate
    assert ("a", "b") in cdg and ("a", "c") in cdg
    assert ("a", "d") not in cdg


def test_reaching_defs_linear(spark):
    from datetime import datetime

    rows = [
        ("cR", 1, "user", "p1 mentions p2 x", None, datetime(2024, 1, 1, 0, 0, 0)),
        ("cR", 2, "assistant", "filler only here", None, datetime(2024, 1, 1, 0, 0, 10)),
        ("cR", 3, "user", "p1 mentions p9 y", None, datetime(2024, 1, 1, 0, 0, 20)),
        ("cR", 4, "user", "p2 mentions p1 z", None, datetime(2024, 1, 1, 0, 0, 30)),
    ]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    ad = spark.createDataFrame(
        [("p1", "person_one", "PERSON", 0.9), ("p2", "person_two", "PERSON", 0.9)],
        "alias string, canonical_name string, entity_type string, prior double",
    )
    merge = spark.createDataFrame([], "canonical_name string, merged_name string")
    got = {
        (r.variable, r.src_order, r.dst_order)
        for r in dataflow.reaching_def_edges(tr, ad, merge).collect()
    }
    assert got == {
        ("person_one", 1, 3),  # p1@t1 reaches t3 (t2 defines nothing)
        ("person_one", 3, 4),
        ("person_two", 1, 4),
    }


# -- DiffGraph mutation primitives --------------------------------------------


def test_set_node_props(spark, catalog):
    nodes = catalog.nodes()
    target = nodes.where(F.col("label") == S.CONVERSATION).limit(2).select("id")
    updates = target.select(
        "id", F.lit("reviewed").alias("key"), F.lit("yes").alias("value")
    )
    out = D.set_node_props(nodes, updates)
    got = (
        out.join(target, "id", "left_semi")
        .select(F.element_at("props", "reviewed").alias("v"))
        .collect()
    )
    assert [r.v for r in got] == ["yes", "yes"]
    untouched = out.join(target, "id", "left_anti").where(
        F.element_at("props", "reviewed").isNotNull()
    )
    assert untouched.count() == 0


def test_remove_nodes_cascades_edges(spark, catalog):
    nodes, edges = catalog.nodes(), catalog.edges()
    victim = nodes.where(F.col("label") == S.TURN).limit(1).select("id")
    vid = victim.collect()[0].id
    n2, e2 = D.remove_nodes(nodes, edges, victim)
    assert n2.where(F.col("id") == vid).count() == 0
    assert e2.where((F.col("src") == vid) | (F.col("dst") == vid)).count() == 0


def test_remove_edges_by_identity(spark, catalog):
    edges = catalog.edges()
    some = D.edge_identity(edges.where(F.col("label") == "NEXT").limit(3)).select(
        "edge_id"
    )
    out = D.remove_edges(edges, some)
    assert out.count() == edges.count() - 3


def test_remove_shadowed_stubs(spark, catalog):
    nodes, edges = catalog.nodes(), catalog.edges()
    # inject a stub shadowed by a real entity
    real = nodes.where(
        (F.col("label") == S.ENTITY) & ~F.col("full_name").startswith("external:")
    ).limit(1)
    real_name = real.collect()[0].full_name
    stub = real.select(
        (F.col("id") + 999).alias("id"),
        F.lit(S.ENTITY).alias("label"),
        F.lit(None).cast("string").alias("name"),
        F.lit("external:" + real_name).alias("full_name"),
        F.lit(None).cast("string").alias("code"),
        F.lit(None).cast("int").alias("order"),
        F.lit(None).cast("string").alias("conv_id"),
        F.lit(None).cast("int").alias("turn_idx"),
        F.create_map().cast("map<string,string>").alias("props"),
    )
    dirty = nodes.unionByName(stub)
    clean, _ = D.remove_shadowed_stubs(dirty, edges)
    assert dirty.where(F.col("full_name") == "external:" + real_name).count() == 1
    assert clean.where(F.col("full_name") == "external:" + real_name).count() == 0
    # legitimate stubs survive
    assert clean.where(F.col("full_name").startswith("external:")).count() > 0


# -- exports -------------------------------------------------------------------


def test_export_json_roundtrip(spark, catalog, tmp_path):
    out = str(tmp_path / "export")
    exports.export_json(catalog.nodes(), catalog.edges(), out)
    n = spark.read.json(f"{out}/nodes")
    assert n.count() == catalog.nodes().count()


def test_dot_export(catalog):
    dot = exports.conversation_to_dot(catalog.nodes(), catalog.edges(), "c000001")
    assert dot.startswith('digraph "c000001"')
    assert '[label="NEXT"]' in dot and "CONVERSATION" in dot
    # deterministic: same call → same string
    assert dot == exports.conversation_to_dot(
        catalog.nodes(), catalog.edges(), "c000001"
    )


def test_flow_paths_diamond(spark):
    """reachableByFlows analog: full evidence paths, simple-path discipline
    (no repeated node, self-loops excluded)."""
    edges = spark.createDataFrame(
        [("g", "a", "b"), ("g", "a", "c"), ("g", "b", "d"), ("g", "c", "d"),
         ("g", "d", "e"), ("g", "e", "e")],  # self-loop must not appear
        "conv_id string, s string, o string",
    )
    got = {
        (r.src, r.dst, r.hops, r.path)
        for r in dataflow.flow_paths_grouped(edges, max_hops=3).collect()
    }
    assert ("a", "d", 2, "a->b->d") in got
    assert ("a", "d", 2, "a->c->d") in got
    assert ("a", "e", 3, "a->b->d->e") in got
    assert ("a", "e", 3, "a->c->d->e") in got
    assert not any(h > 3 for _, _, h, _ in got)
    assert not any(s == d for s, d, h, _ in got if h == 1)  # no self-loop flows
    # pair projection of flows == the pair-returning operator (minus
    # self-loop pairs, which flows exclude by the simple-path rule)
    pairs = {
        (r.src, r.dst)
        for r in dataflow.reachable_within_grouped(edges, max_hops=3).collect()
        if r.src != r.dst
    }
    flow_pairs = {(s, d) for s, d, _, _ in got}
    assert pairs == flow_pairs


# -- branching / until / edge steps (NodeSteps.scala:28-33, Steps repeat) ------


@pytest.fixture(scope="module")
def tiny_g(spark):
    """Handcrafted 2-conversation graph:
    t1 -NEXT-> t2 -NEXT-> t3 (t3 is a tool turn with a TOOLCALL child; t1/t2
    have MENTION children m1/m2); toolcall c1 -CALL-> entity e1."""
    nodes = spark.createDataFrame(
        [
            (1, "TURN", "user", None, None, 1, "cX", 1, {}),
            (2, "TURN", "assistant", None, None, 2, "cX", 2, {}),
            (3, "TURN", "tool", None, None, 3, "cX", 3, {}),
            (10, "MENTION", "p1", None, "p1", 2, "cX", 1, {}),
            (11, "MENTION", "p2", None, "p2", 2, "cX", 2, {}),
            (20, "TOOLCALL", "hammer", None, None, 3, "cX", 3, {}),
            (30, "ENTITY", "tool_hammer", "tool_hammer", None, None, None, None, {}),
        ],
        "id long, label string, name string, full_name string, code string, "
        "order int, conv_id string, turn_idx int, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [
            (1, 2, "NEXT", {}),
            (2, 3, "NEXT", {}),
            (1, 10, "AST", {}),
            (2, 11, "AST", {}),
            (3, 20, "AST", {}),
            (20, 30, "CALL", {}),
            (30, 30, "REL", {"pred": "mentions"}),
        ],
        "src long, dst long, label string, props map<string,string>",
    )
    return traversal.GraphView(nodes, edges)


def test_coalesce_first_nonempty_branch(tiny_g):
    """coalesce: turns with a TOOLCALL child emit it; only the others emit
    their MENTION children."""
    picked = tiny_g.turns().coalesce_steps(
        lambda t: t.out("AST").filter(F.col("label") == S.TOOLCALL),
        lambda t: t.out("AST").filter(F.col("label") == S.MENTION),
    )
    got = {(r.id, r.label) for r in picked.df.collect()}
    assert got == {(20, "TOOLCALL"), (10, "MENTION"), (11, "MENTION")}


def test_coalesce_second_branch_only_for_unmatched(tiny_g):
    """An element matching branch 1 must NOT also run branch 2."""
    picked = tiny_g.turns().coalesce_steps(
        lambda t: t.out("AST").filter(F.col("label") == S.TOOLCALL),
        lambda t: t,  # identity fallback: the turns themselves
    )
    got = {(r.id, r.label) for r in picked.df.collect()}
    assert got == {(20, "TOOLCALL"), (1, "TURN"), (2, "TURN")}


def test_choose_branching(tiny_g):
    res = tiny_g.turns().choose(
        F.col("name") == "tool",
        lambda t: t.out("AST"),  # tool turn -> its toolcall
        lambda t: t,  # others stay
    )
    got = {r.id for r in res.df.collect()}
    assert got == {20, 1, 2}


def test_repeat_until_stops_at_predicate(tiny_g):
    stops = tiny_g.turns().has(order=1).repeat_out(
        "NEXT", max_hops=10, until=F.col("name") == "tool", emit_all=False
    )
    assert {r.id for r in stops.df.collect()} == {3}
    # emit_all returns the whole visited chain
    all_seen = tiny_g.turns().has(order=1).repeat_out("NEXT", max_hops=10)
    assert {r.id for r in all_seen.df.collect()} == {1, 2, 3}


def test_out_e_exposes_props(tiny_g):
    rel = tiny_g.entities().out_e("REL").collect()
    assert len(rel) == 1 and rel[0].props["pred"] == "mentions"
    ine = tiny_g.entities().in_e("CALL").collect()
    assert len(ine) == 1 and ine[0].src == 20


def test_caller_callee_sugar(tiny_g):
    assert {r.id for r in tiny_g.toolcalls().callee().df.collect()} == {30}
    assert {r.id for r in tiny_g.entities().caller().df.collect()} == {20}

# -- flow semantics + cross-conversation propagation ---------------------------


def test_semantics_parser_golden(spark):
    from codepropertygraph_spark.operators import semantics

    rules = semantics.parse_semantics(
        '# comment\n"uses_tool" subj -> obj\n"mentions" subj->obj, obj -> subj\n'
        '"refers_to" -\n\n"asks_about" obj->subj  # trailing\n'
    )
    assert rules == [
        ("uses_tool", "subj", "obj"),
        ("mentions", "subj", "obj"),
        ("mentions", "obj", "subj"),
        ("asks_about", "obj", "subj"),
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        semantics.parse_semantics('"x" subj -> nowhere')


def test_semantics_flow_edges_prune(spark):
    from codepropertygraph_spark.operators import semantics

    triples = spark.createDataFrame(
        [
            ("c1", "a", "uses_tool", "b"),
            ("c1", "a", "refers_to", "b"),
            ("c1", "x", "mentions", "y"),
        ],
        "conv_id string, subj string, pred string, obj string",
    )
    rules = semantics.semantics_table(
        spark, '"uses_tool" subj -> obj\n"mentions" subj->obj, obj->subj\n"refers_to" -\n'
    )
    got = {(r.s, r.o) for r in semantics.flow_edges(triples, rules).collect()}
    # refers_to contributes nothing; mentions is bidirectional
    assert got == {("a", "b"), ("x", "y"), ("y", "x")}


def test_reachable_cross_conversation_bridges(spark):
    """Entity x in conv A reaches entity z only through conv B — one
    crossing; within-conv pairs report crossings=0."""
    edges = spark.createDataFrame(
        [("A", "a", "x"), ("B", "x", "z")],
        "conv_id string, s string, o string",
    )
    got = {
        (r.src, r.dst): r.crossings
        for r in dataflow.reachable_cross_conversation(
            edges, max_hops=4, max_crossings=1
        ).collect()
    }
    assert got[("a", "x")] == 0
    assert got[("x", "z")] == 0
    assert got[("a", "z")] == 1  # only via the conv-B continuation
    # with crossings disabled the bridge pair disappears
    got0 = {
        (r.src, r.dst)
        for r in dataflow.reachable_cross_conversation(
            edges, max_hops=4, max_crossings=0
        ).collect()
    }
    assert ("a", "z") not in got0


def test_access_path_match_and_diff(spark):
    """AccessPath.matchAndDiff analog goldens: exact / prefix / extension /
    mismatch, wildcard index = VariableAccess."""
    from codepropertygraph_spark.functions import access_path as AP

    rows = [
        ("$.a[0].b", "$.a[0].b", "EXACT", []),
        ("$.a[*].b", "$.a[7].b", "EXACT", []),          # wildcard matches any index
        ("$.a", "$.a[0].b", "A_PREFIX_OF_B", ["[0]", "b"]),
        ("$.a[0].b.c", "$.a[0].b", "B_PREFIX_OF_A", ["c"]),
        ("$.a[0].b", "$.a[1].b", "NO_MATCH", []),
        ("$.x", "$.y", "NO_MATCH", []),
        ("$", "$.y", "A_PREFIX_OF_B", ["y"]),           # root covers everything
    ]
    df = spark.createDataFrame(
        [(a, b) for a, b, _, _ in rows], "a string, b string"
    )
    got = df.select(
        "a",
        "b",
        AP.match_and_diff(AP.elements("a"), AP.elements("b")).alias("m"),
    ).collect()
    by_pair = {(r.a, r.b): (r.m.kind, list(r.m.diff)) for r in got}
    for a, b, kind, diff in rows:
        assert by_pair[(a, b)] == (kind, diff), (a, b)


def test_flow_witness_diamond(spark):
    """One shortest witness per pair, min-string tie-break at each level."""
    edges = spark.createDataFrame(
        [("g", "a", "b"), ("g", "a", "c"), ("g", "b", "d"), ("g", "c", "d"),
         ("g", "d", "e"), ("g", "e", "e")],
        "conv_id string, s string, o string",
    )
    got = {
        (r.src, r.dst): (r.hops, r.path)
        for r in dataflow.flow_witness_grouped(edges, max_hops=4).collect()
    }
    assert got[("a", "d")] == (2, "a->b->d")  # min-string among the two 2-hop paths
    assert got[("a", "e")] == (3, "a->b->d->e")
    assert ("e", "e") not in got  # self-loops excluded
    # pair set == the pair-returning closure (minus self-pairs)
    pairs = {
        (r.src, r.dst)
        for r in dataflow.reachable_within_grouped(edges, max_hops=4).collect()
        if r.src != r.dst
    }
    assert set(got) == pairs


def test_traversal_aggregation_and_help(tiny_g):
    gc = {r.label: r.n for r in tiny_g.all().group_count().collect()}
    assert gc == {"TURN": 3, "MENTION": 2, "TOOLCALL": 1, "ENTITY": 1}
    top = tiny_g.turns().top_k(2, by="order")
    assert [r.id for r in top.df.collect()] == [3, 2]
    limited = tiny_g.all().sort("id").limit_(3)
    assert [r.id for r in limited.df.collect()] == [1, 2, 3]
    steps = dict(traversal.Traversal.help())
    for s in ("out", "in_", "coalesce_steps", "choose", "repeat_out", "top_k"):
        assert s in steps
    starters = dict(traversal.GraphView.help())
    assert "conversations" in starters and "trait_" in starters


def test_jsonl_source_roundtrip(spark, transcripts, tmp_path):
    from codepropertygraph_spark.sources import tables as T

    path = str(tmp_path / "jsonl")
    T.write_transcripts_jsonl(transcripts.limit(200), path)
    back = T.read_transcripts_jsonl(spark, path)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    a = {tuple(r) for r in transcripts.limit(200).select(*cols).collect()}
    b = {tuple(r) for r in back.select(*cols).collect()}
    assert a == b
    # JSON sources are always nullable and read ts as session-tz timestamp
    # (the parquet corpus stores NTZ) — values are identical; compare names
    # and non-timestamp types
    for f_back, f_src in zip(back.schema.fields, transcripts.select(*cols).schema.fields):
        assert f_back.name == f_src.name
        if f_back.name != "ts":
            assert f_back.dataType == f_src.dataType


def test_graphml_export_deterministic(catalog):
    from xml.etree import ElementTree

    nodes, edges = catalog.nodes(), catalog.edges()
    conv = nodes.where(F.col("conv_id").isNotNull()).limit(1).collect()[0].conv_id
    g1 = exports.conversation_to_graphml(nodes, edges, conv)
    g2 = exports.conversation_to_graphml(nodes, edges, conv)
    assert g1 == g2  # byte-determinism
    root = ElementTree.fromstring(g1)  # well-formed XML
    ns = "{http://graphml.graphdrawing.org/xmlns}"
    graph = root.find(f"{ns}graph")
    assert len(graph.findall(f"{ns}node")) > 0
    assert len(graph.findall(f"{ns}edge")) > 0


def test_graphml_and_dot_exports_agree(catalog):
    """The two per-conversation exports must describe the SAME subgraph —
    the graphml edge scan is filtered to the conversation's node ids before
    collect (r6: no unfiltered edge-table collect), and this pins that the
    filter semantics match the dot sibling's both-endpoint discipline."""
    import re
    from xml.etree import ElementTree

    nodes, edges = catalog.nodes(), catalog.edges()
    conv = nodes.where(F.col("conv_id").isNotNull()).limit(1).collect()[0].conv_id
    dot = exports.conversation_to_dot(nodes, edges, conv)
    dot_edges = set(re.findall(r'"(\d+)" -> "(\d+)"', dot))
    root = ElementTree.fromstring(exports.conversation_to_graphml(nodes, edges, conv))
    ns = "{http://graphml.graphdrawing.org/xmlns}"
    gml_edges = {
        (e.get("source")[1:], e.get("target")[1:])
        for e in root.find(f"{ns}graph").findall(f"{ns}edge")
    }
    # dot keeps edges with EITHER endpoint in the conversation but only
    # renders both-endpoint ones; graphml collects both-endpoint edges only
    assert gml_edges == dot_edges
    assert len(gml_edges) > 0


def _brute_cross_conv(rows, max_hops, max_crossings, sources=None):
    """Conv-carrying reference implementation of reachable_cross_conversation
    (the exponential-state formulation the witness summaries compress)."""
    from collections import defaultdict

    adj: dict = defaultdict(lambda: defaultdict(set))
    for c, s, o in rows:
        adj[c][s].add(o)
    within = set()
    for c, a in adj.items():
        for start in a:
            reached: set = set()
            frontier = {start}
            for _ in range(max_hops):
                nxt = set()
                for n in frontier:
                    nxt |= a.get(n, set()) - reached
                reached |= nxt
                frontier = nxt
            for d in reached:
                within.add((c, start, d))
    best: dict = {}
    cur = {
        (s, d, c)
        for (c, s, d) in within
        if sources is None or s in sources
    }
    for s, d, _ in cur:
        best.setdefault((s, d), 0)
    for k in range(1, max_crossings + 1):
        nxt = set()
        for s, b, c in cur:
            for c2, s2, d2 in within:
                if s2 == b and c2 != c:
                    nxt.add((s, d2, c2))
                    best.setdefault((s, d2), k)
        cur = nxt
    return best


def test_cross_conversation_witness_summary_matches_brute_force(spark):
    """The entity-pair witness-summary loop must equal the conv-carrying
    formulation at every depth — including the adversarial regimes the
    summary compresses: hub entities in many conversations, A->B->A
    non-adjacent repeats, and single-conversation pins where the depart set
    has 1 or 2 members containing the frontier's only witness."""
    import random

    rng = random.Random(7)
    nodes = ["n%d" % i for i in range(6)]
    convs = ["cA", "cB", "cC", "cD"]
    for trial in range(4):
        rows = set()
        for _ in range(14):
            rows.add(
                (rng.choice(convs), rng.choice(nodes), rng.choice(nodes))
            )
        rows = sorted(rows)
        edges = spark.createDataFrame(rows, "conv_id string, s string, o string")
        for mc in (1, 2, 3):
            exp = _brute_cross_conv(rows, 3, mc)
            got = {
                (r.src, r.dst): r.crossings
                for r in dataflow.reachable_cross_conversation(
                    edges, max_hops=3, max_crossings=mc
                ).collect()
            }
            assert got == exp, (trial, mc)


def test_cross_conversation_single_conv_pin_branches(spark):
    """Hand-built hits for the depart-summary branches: n_d == 1 with the
    pinned conv (invalid), n_d == 2 containing the frontier witness (falls
    to the other conv), and the A->B->A depth-2 return."""
    rows = [
        # src u reaches bridge x only in cA; x departs to z only in cA too
        ("cA", "u", "x"), ("cA", "x", "z"),
        # x also departs to w in cA and cB (n_d == 2, one of them == cA)
        ("cB", "x", "w"),
        # w returns to a cA-only segment (depth-2 A->B->A)
        ("cA", "w", "v"),
    ]
    edges = spark.createDataFrame(rows, "conv_id string, s string, o string")
    for mc in (1, 2, 3):
        exp = _brute_cross_conv(rows, 4, mc)
        got = {
            (r.src, r.dst): r.crossings
            for r in dataflow.reachable_cross_conversation(
                edges, max_hops=4, max_crossings=mc
            ).collect()
        }
        assert got == exp, mc
    # the invalid pin: u->z via bridge x must stay crossings=0 (same conv),
    # u->w needs the cB departure (1 crossing), u->v needs the return (2)
    got2 = {
        (r.src, r.dst): r.crossings
        for r in dataflow.reachable_cross_conversation(
            edges, max_hops=4, max_crossings=2
        ).collect()
    }
    assert got2[("u", "w")] == 1
    assert got2[("u", "v")] == 2


def test_cross_conversation_sources_restriction(spark):
    rows = [("cA", "ext", "x"), ("cA", "a", "x"), ("cB", "x", "z")]
    edges = spark.createDataFrame(rows, "conv_id string, s string, o string")
    srcs = spark.createDataFrame([("ext",)], "src string")
    exp = _brute_cross_conv(rows, 4, 1, sources={"ext"})
    got = {
        (r.src, r.dst): r.crossings
        for r in dataflow.reachable_cross_conversation(
            edges, max_hops=4, max_crossings=1, sources=srcs
        ).collect()
    }
    assert got == exp
    assert all(s == "ext" for s, _ in got)


def test_flow_witness_sources_and_sinks(spark):
    edges = spark.createDataFrame(
        [("g", "a", "b"), ("g", "b", "c"), ("g", "x", "b"), ("g", "c", "d")],
        "conv_id string, s string, o string",
    )
    srcs = spark.createDataFrame([("a",)], "src string")
    sinks = spark.createDataFrame([("d",)], "dst string")
    got = {
        (r.src, r.dst): r.path
        for r in dataflow.flow_witness_grouped(
            edges, max_hops=4, sources=srcs, sinks=sinks
        ).collect()
    }
    # only a->d survives; BFS still expanded THROUGH non-sink b, c
    assert got == {("a", "d"): "a->b->c->d"}


def test_flow_paths_per_group_cap(spark):
    import pytest as _pytest

    edges = spark.createDataFrame(
        [("g", "a", "b"), ("g", "b", "c"), ("g", "c", "d")],
        "conv_id string, s string, o string",
    )
    with _pytest.raises(Exception, match="max_paths_per_group"):
        dataflow.flow_paths_grouped(edges, max_hops=4, max_paths_per_group=2).collect()
    # generous cap passes
    assert dataflow.flow_paths_grouped(edges, max_hops=4).count() == 6


def test_graphml_escapes_special_chars(spark):
    """Names containing &, <, > and quotes must produce well-formed GraphML
    (ADVICE: values were interpolated unescaped)."""
    from xml.etree import ElementTree

    nodes = spark.createDataFrame(
        [(1, 'L<&>"x', 'na&me<">', "c&<v")],
        "id long, label string, name string, conv_id string",
    )
    edges = spark.createDataFrame(
        [(1, 1, "E<&>")], "src long, dst long, label string"
    )
    xml = exports.conversation_to_graphml(nodes, edges, "c&<v", edge_labels=("E<&>",))
    root = ElementTree.fromstring(xml)  # raises on malformed markup
    ns = "{http://graphml.graphdrawing.org/xmlns}"
    node = root.find(f"{ns}graph").find(f"{ns}node")
    vals = {d.get("key"): d.text for d in node.findall(f"{ns}data")}
    assert vals["labelV"] == 'L<&>"x' and vals["name"] == 'na&me<">'


def test_reaching_defs_fields_path_containment(spark):
    """UsageAnalyzer-analog goldens: wildcard defs cover concrete leaves
    (PREFIX), sibling fields fall out (NO_MATCH), later matching writes
    supersede earlier ones (strong update), exact matches count."""
    defs = spark.createDataFrame(
        [
            ("c", 1, "v", "$.a[*].obj"),
            ("c", 3, "v", "$.a[*].obj"),      # supersedes turn-1 def for later uses
            ("c", 1, "w", "$.cfg.flag"),      # exact-path def
        ],
        "conv_id string, turn_order long, variable string, path string",
    )
    uses = spark.createDataFrame(
        [
            ("c", 2, "v", "$.a[0].obj.surface"),  # reached by turn-1 def
            ("c", 4, "v", "$.a[7].obj.pos"),      # reached by turn-3 def (kill)
            ("c", 4, "v", "$.a[7].subj.pos"),     # NO_MATCH: sibling field
            ("c", 4, "x", "$.a[7].obj.pos"),      # variable mismatch
            ("c", 2, "w", "$.cfg.flag"),          # EXACT match
            ("c", 1, "v", "$.a[0].obj.surface"),  # same turn as def: not reached
        ],
        "conv_id string, turn_order long, variable string, path string",
    )
    got = {
        (r.variable, r.use_path, r.dst_order): r.src_order
        for r in dataflow.reaching_defs_fields(defs, uses).collect()
    }
    assert got == {
        ("v", "$.a[0].obj.surface", 2): 1,
        ("v", "$.a[7].obj.pos", 4): 3,
        ("w", "$.cfg.flag", 2): 1,
    }


def _dom_view(spark):
    """Diamond CFG a->{b,c}->d->e with IDOM/IPDOM/CDG relations committed as
    id-pair tables — the fixture for the CfgNodeMethods-analog steps."""
    from codepropertygraph_spark.operators import traversal

    ids = {n: i + 1 for i, n in enumerate("abcde")}
    raw = [("g", "a", "b"), ("g", "a", "c"), ("g", "b", "d"), ("g", "c", "d"),
           ("g", "d", "e")]
    edges_df = spark.createDataFrame(raw, "conv_id string, s string, o string")
    nodes = spark.createDataFrame(
        [(ids[n], "ENTITY", n, "g") for n in ids],
        "id long, label string, name string, conv_id string",
    )
    nedges = spark.createDataFrame(
        [(ids[s], ids[o], "NEXT") for _, s, o in raw],
        "src long, dst long, label string",
    )
    entries = spark.createDataFrame([("g", "a")], "conv_id string, entry string")
    exits = spark.createDataFrame([("g", "e")], "conv_id string, exit string")
    idom = dataflow.dominators_grouped(edges_df, entries)
    rev = edges_df.select("conv_id", F.col("o").alias("s"), F.col("s").alias("o"))
    ipdom = dataflow.dominators_grouped(
        rev, exits.select("conv_id", F.col("exit").alias("entry"))
    )
    cdg = dataflow.control_dependence_grouped(edges_df, exits)

    def rel(df, a, b, strict=True):
        if strict:  # drop the entry's idom self-loop; CDG keeps self-pairs
            df = df.where(F.col(a) != F.col(b))
        return df.select(
            F.udf(lambda n: ids[n], "long")(a).alias("src"),
            F.udf(lambda n: ids[n], "long")(b).alias("dst"),
        )

    relations = {
        "IDOM": rel(idom, "node", "idom"),
        "IPDOM": rel(ipdom, "node", "idom"),
        "CDG": rel(cdg, "controller", "dependent", strict=False),
    }
    return traversal.GraphView(nodes, nedges, relations), cdg


def test_dominance_traversal_steps_golden(spark):
    g, cdg = _dom_view(spark)
    names = lambda t: {r.name for r in t.df.collect()}
    # strict dominators of e: its idom chain d -> a
    assert names(g.all().has(name="e").dominated_by()) == {"d", "a"}
    # a strictly dominates everything else
    assert names(g.all().has(name="a").dominates()) == {"b", "c", "d", "e"}
    # post-dominators of a: d and e (both branches re-join at d)
    assert names(g.all().has(name="a").post_dominated_by()) == {"d", "e"}
    assert names(g.all().has(name="e").post_dominates()) == {"a", "b", "c", "d"}
    # cfgNext / cfgPrev one-steppers
    assert names(g.all().has(name="a").cfg_next()) == {"b", "c"}
    assert names(g.all().has(name="d").cfg_prev()) == {"b", "c"}
    # controls/controlled_by agree with the CdgPass table
    exp = {(r.controller, r.dependent) for r in cdg.collect()}
    id2n = {i + 1: n for i, n in enumerate("abcde")}
    got = {
        (id2n[r["__root"]], r["name"])
        for r in g.all().as_root().controls().df.collect()
    }
    assert got == exp
    # controlled_by is the inverse hop
    inv = {
        (r["name"], id2n[r["__root"]])
        for r in g.all().as_root().controlled_by().df.collect()
    }
    assert inv == exp
    # unknown relation -> helpful error
    import pytest as _pytest

    g2, _ = _dom_view(spark)
    g2.relations.pop("IPDOM")
    with _pytest.raises(KeyError, match="IPDOM"):
        g2.all().post_dominates().df.collect()


def test_bundle_roundtrip_identical(catalog, spark, tmp_path):
    """Full-graph interchange (cpg.bin.zip analog): export -> load -> export
    must be content-identical (manifest hashes equal), the loaded graph must
    equal the original row-for-row INCLUDING props, and tampering must fail
    the load-time hash verification."""
    nodes, edges = catalog.nodes(), catalog.edges()
    b1 = str(tmp_path / "b1")
    b2 = str(tmp_path / "b2")
    m1 = exports.export_bundle(nodes, edges, b1, n_files=3)
    rn, re_, m_loaded = exports.load_bundle(spark, b1)
    assert m_loaded == m1
    m2 = exports.export_bundle(rn, re_, b2, n_files=3)
    assert (m1["nodes"], m1["edges"]) == (m2["nodes"], m2["edges"])
    # row-level identity incl. props (maps compared as sorted entry lists)
    key = lambda df: {
        tuple(r) for r in df.select(
            *[c for c in df.columns if c != "props"],
            F.array_sort(F.map_entries("props")).cast("string"),
        ).collect()
    }
    assert key(rn) == key(nodes.select(*rn.columns))
    assert key(re_) == key(edges.select(*re_.columns))
    # corruption detection: drop one parquet file
    import glob
    import os
    import pytest as _pytest

    # pick the largest part file — a hash bucket can legitimately be empty
    # on a tiny fixture, and removing an empty file changes no content
    victim = max(glob.glob(f"{b1}/edges/part-*"), key=os.path.getsize)
    os.remove(victim)
    with _pytest.raises(ValueError, match="content mismatch"):
        exports.load_bundle(spark, b1)


def test_track_path_golden(tiny_g):
    """Path tracking (TrackingPoint.scala:48-66): each hop appends the
    visited node id; dedup keeps the lexicographically smallest witness
    path; untracked traversals refuse .paths()."""
    # t1 -NEXT-> t2 -NEXT-> t3 : two hops from t1
    got = {
        (tuple(r.path), r.last)
        for r in tiny_g.turns()
        .filter(F.col("id") == 1)
        .track_path()
        .out("NEXT")
        .out("NEXT")
        .paths()
        .collect()
    }
    assert got == {((1, 2, 3), 3)}
    # fan-out: turns' AST children each carry their own 2-element path
    got2 = {
        tuple(r.path)
        for r in tiny_g.turns().track_path().out("AST").paths().collect()
    }
    assert got2 == {(1, 10), (2, 11), (3, 20)}
    # dedup keeps ONE deterministic witness per element: reach node 3 via
    # NEXT from both t1 (path 1->2->3 after two hops... ) — construct two
    # routes by unioning one-hop and two-hop frontiers
    one = tiny_g.turns().track_path().out("NEXT")          # paths (1,2),(2,3)
    two = one.out("NEXT")                                   # path (1,2,3)
    both = traversal.Traversal(tiny_g, one.df.unionByName(two.df))
    kept = {
        (r.last, tuple(r.path)) for r in both.dedup().paths().collect()
    }
    # node 3 reachable via (2,3) and (1,2,3): min array wins -> (1,2,3)
    assert kept == {(2, (1, 2)), (3, (1, 2, 3))}
    with pytest.raises(ValueError, match="track_path"):
        tiny_g.turns().paths()


def test_reachable_within_auto_routes_and_agrees(spark):
    """Size-routed closure: with a threshold that forces ONE conversation
    through the global join loop and the other through the grouped BFS, the
    union must equal the pure grouped result; with no group over the limit
    it must take the grouped path wholesale."""
    edges = spark.createDataFrame(
        # cBig: 6 edges (chain + cycle), cSmall: 2 edges
        [("cBig", "a", "b"), ("cBig", "b", "c"), ("cBig", "c", "d"),
         ("cBig", "d", "a"), ("cBig", "b", "e"), ("cBig", "e", "f"),
         ("cSmall", "x", "y"), ("cSmall", "y", "z")],
        "conv_id string, s string, o string",
    )
    pure = {
        tuple(r)
        for r in dataflow.reachable_within_grouped(edges, max_hops=3).collect()
    }
    routed = {
        tuple(r)
        for r in dataflow.reachable_within_auto(
            edges, max_hops=3, group_edge_limit=4
        ).collect()
    }
    assert routed == pure
    all_grouped = {
        tuple(r)
        for r in dataflow.reachable_within_auto(
            edges, max_hops=3, group_edge_limit=100
        ).collect()
    }
    assert all_grouped == pure


# -- mega-group size routing (join-loop formulations) -------------------------

_MEGA_EDGES = [
    # cBig: 8 edges — diamond + back edge + hub fan-out
    ("cBig", "a", "b"), ("cBig", "a", "c"), ("cBig", "b", "d"),
    ("cBig", "c", "d"), ("cBig", "d", "e"), ("cBig", "e", "b"),
    ("cBig", "d", "f"), ("cBig", "f", "g"),
    # cSmall: 3 edges — chain
    ("cSmall", "x", "y"), ("cSmall", "y", "z"), ("cSmall", "z", "w"),
]


@pytest.fixture(scope="module")
def mega_edges(spark):
    return spark.createDataFrame(_MEGA_EDGES, "conv_id string, s string, o string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_flow_witness_auto_mega_group(mega_edges):
    """One conversation over the edge limit routes through the join-loop
    witness BFS; rows must be identical to the pure grouped path."""
    pure = _rows(dataflow.flow_witness_grouped(mega_edges, max_hops=4))
    routed = _rows(
        dataflow.flow_witness_auto(mega_edges, max_hops=4, group_edge_limit=5)
    )
    assert routed == pure
    # pure join path too (both groups big)
    all_join = _rows(
        dataflow.flow_witness_auto(mega_edges, max_hops=4, group_edge_limit=1)
    )
    assert all_join == pure


def test_flow_witness_auto_sources_sinks(mega_edges, spark):
    srcs = spark.createDataFrame([("a",), ("x",)], "src string")
    sinks = spark.createDataFrame([("d",), ("z",)], "dst string")
    pure = _rows(
        dataflow.flow_witness_grouped(mega_edges, max_hops=3, sources=srcs, sinks=sinks)
    )
    routed = _rows(
        dataflow.flow_witness_auto(
            mega_edges, max_hops=3, sources=srcs, sinks=sinks, group_edge_limit=5
        )
    )
    assert routed == pure and len(pure) > 0


def test_flow_paths_auto_mega_group(mega_edges):
    pure = _rows(dataflow.flow_paths_grouped(mega_edges, max_hops=4))
    routed = _rows(
        dataflow.flow_paths_auto(mega_edges, max_hops=4, group_edge_limit=5)
    )
    assert routed == pure


def test_flow_paths_join_guard_raises(mega_edges):
    with pytest.raises(ValueError, match="max_paths_per_group"):
        dataflow.flow_paths_join(mega_edges, max_hops=4, max_paths_per_group=3)


def test_dominators_auto_mega_group(mega_edges, spark):
    entries = mega_edges.groupBy("conv_id").agg(F.min("s").alias("entry"))
    pure = _rows(dataflow.dominators_grouped(mega_edges, entries))
    routed = _rows(
        dataflow.dominators_auto(mega_edges, entries, group_edge_limit=5)
    )
    assert routed == pure
    all_join = _rows(dataflow.dominators_join(mega_edges, entries))
    assert all_join == pure


def test_control_dependence_auto_mega_group(mega_edges, spark):
    nodes = mega_edges.select("conv_id", F.col("s").alias("n")).unionByName(
        mega_edges.select("conv_id", F.col("o").alias("n"))
    )
    exits = nodes.groupBy("conv_id").agg(F.max("n").alias("exit"))
    pure = _rows(dataflow.control_dependence_grouped(mega_edges, exits))
    routed = _rows(
        dataflow.control_dependence_auto(mega_edges, exits, group_edge_limit=5)
    )
    assert routed == pure
    all_join = _rows(dataflow.control_dependence_join(mega_edges, exits))
    assert all_join == pure


def test_cross_conversation_salted_join_matches_broadcast(spark, monkeypatch):
    """With the depart broadcast gate forced shut, the salted shuffle-join
    fallback must produce row-identical crossings at every depth."""
    edges = spark.createDataFrame(
        [("A", "a", "x"), ("B", "x", "z"), ("B", "z", "y"),
         ("C", "y", "q"), ("A", "q", "r"), ("C", "x", "y")],
        "conv_id string, s string, o string",
    )
    want = _rows(
        dataflow.reachable_cross_conversation(edges, max_hops=4, max_crossings=2)
    )
    monkeypatch.setattr(dataflow, "DEPART_BROADCAST_MAX_ROWS", 0)
    got = _rows(
        dataflow.reachable_cross_conversation(edges, max_hops=4, max_crossings=2)
    )
    assert got == want and len(want) > 0


def test_crossing_pairs_partial_pigeonhole_grid(spark):
    """Drive _crossing_pairs into each of its three dispatch outcomes via
    constructed summaries, including the partially-dense remainder path
    (0 < n_und: grid + undecided-cell check join) that the fused-histogram
    guard rewrite restructured. Expected pairs come from the definition:
    (s, d) valid iff some shared bridge row pair is not conv-pinned."""
    core_b = [f"b{i}" for i in range(6)]
    core_s = [f"s{i}" for i in range(6)]
    core_d = [f"d{i}" for i in range(6)]
    frontier_rows = [(s, b, True, None) for s in core_s for b in core_b]
    depart_rows = [(b, d, 3, "cA", None) for b in core_b for d in core_d]
    # one extra src/dst with a single bridge each -> the (s6, d6) cell is
    # undecided (n_f + n_dd = 2 <= B = 6) while every other cell is proven.
    frontier_rows.append(("s6", "b0", True, None))
    depart_rows.append(("b0", "d6", 1, "cX", None))
    f = spark.createDataFrame(
        frontier_rows, "src string, bridge string, f_many boolean, f_conv string"
    )
    d = spark.createDataFrame(
        depart_rows, "bridge string, dst2 string, n_d long, c_d1 string, c_d2 string"
    )

    def brute(frows, drows):
        byb = {}
        for b, dst, n_d, c1, _ in drows:
            byb.setdefault(b, []).append((dst, n_d, c1))
        out = set()
        for s, b, many, fconv in frows:
            for dst, n_d, c1 in byb.get(b, ()):
                if not (not many and n_d == 1 and c1 == fconv):
                    out.add((s, dst))
        return out

    got = {(r.src, r.dst) for r in dataflow._crossing_pairs(f, d).collect()}
    assert got == brute(frontier_rows, depart_rows)
    assert ("s6", "d6") in got  # the undecided cell, proven valid by the join

    # fully dense (n_und == 0): drop the peripherals -> endpoint cross product
    f2 = spark.createDataFrame(
        frontier_rows[:-1], "src string, bridge string, f_many boolean, f_conv string"
    )
    d2 = spark.createDataFrame(
        depart_rows[:-1], "bridge string, dst2 string, n_d long, c_d1 string, c_d2 string"
    )
    got2 = {(r.src, r.dst) for r in dataflow._crossing_pairs(f2, d2).collect()}
    assert got2 == {(s, dd) for s in core_s for dd in core_d}

    # sparse (cost_e small): one bridge, conv-pinned rows -> expansion path
    f3 = spark.createDataFrame(
        [("p", "b0", False, "c1"), ("q", "b0", False, "c2")],
        "src string, bridge string, f_many boolean, f_conv string",
    )
    d3 = spark.createDataFrame(
        [("b0", "r", 1, "c1", None)],
        "bridge string, dst2 string, n_d long, c_d1 string, c_d2 string",
    )
    got3 = {(r.src, r.dst) for r in dataflow._crossing_pairs(f3, d3).collect()}
    assert got3 == {("q", "r")}  # ("p","r") is conv-pinned invalid


def test_graphview_centrality_macro_steps(g):
    """entity_pagerank / entity_communities console sugar: runs over the
    committed REL edge set and agrees with calling the operators directly
    on the same pairs."""
    from codepropertygraph_spark.operators import centrality

    pr = {r.node: r.score_micro for r in g.entity_pagerank(iters=2).collect()}
    cm = {r.node: r.community for r in g.entity_communities(iters=1).collect()}
    pairs = g._rel_pairs()
    want_pr = {
        r.node: r.score_micro
        for r in centrality.pagerank_int(pairs, iters=2).collect()
    }
    assert pr == want_pr and len(pr) > 0
    assert set(cm) == set(pr)
    # a REL self-loop alone must not create a community member
    assert all(isinstance(c, type(next(iter(cm.values())))) for c in cm.values())


def test_graphview_structural_macro_steps(g):
    """entity_kcore / entity_triangles / entity_linkpred console sugar
    agrees with the operators on the same REL pairs."""
    from codepropertygraph_spark.operators import centrality

    pairs = g._rel_pairs().localCheckpoint(eager=True)
    kc = {(r.node, r.core_deg) for r in g.entity_kcore(k=2, iters=8).collect()}
    want_kc = {
        (r.node, r.core_deg)
        for r in centrality.kcore(pairs, k=2, iters=8).collect()
    }
    assert kc == want_kc
    tri = {(r.node, r.n_triangles) for r in g.entity_triangles().collect()}
    want_tri = {
        (r.node, r.n_triangles)
        for r in centrality.triangle_counts(pairs).collect()
    }
    assert tri == want_tri and len(tri) > 0
    lp = {(r.a, r.b) for r in g.entity_linkpred(min_cn=2).collect()}
    want_lp = {
        (r.a, r.b)
        for r in centrality.link_prediction(pairs, min_cn=2).collect()
    }
    assert lp == want_lp


def test_graphview_bgp_match_macro_step(g):
    """g.match(...) binds patterns over the name-level REL triples and
    agrees with kg.bgp_match on the explicitly-derived triple frame."""
    from codepropertygraph_spark.operators import kg as KG

    pats = [("?a", "uses_tool", "?t")]
    got = {tuple(r) for r in g.match(pats).collect()}
    triples = g._rel_triples()
    want = {tuple(r) for r in KG.bgp_match(triples, pats).collect()}
    assert got == want and len(got) > 0
    # two-pattern chain: every (a, t, b) binding must be backed by triples
    chain = g.match([("?a", "uses_tool", "?t"), ("?a", "asks_about", "?b")])
    rows = {tuple(r) for r in chain.collect()}
    ts = {(r.subj, r.pred, r.obj) for r in triples.collect()}
    for a, b, t in rows:  # columns sorted: a, b, t
        assert (a, "uses_tool", t) in ts and (a, "asks_about", b) in ts


def test_graphview_walks_closeness_optional_macro_steps(g):
    """entity_walks / entity_closeness / match(optional=, not_exists=)
    console sugar agrees with the operators on the same REL pairs/triples."""
    from codepropertygraph_spark.operators import centrality
    from codepropertygraph_spark.operators import kg as KG

    pairs = g._rel_pairs().localCheckpoint(eager=True)
    wk = {tuple(r) for r in g.entity_walks(walks_per_node=1, length=2).collect()}
    want_wk = {
        tuple(r)
        for r in centrality.random_walks(
            pairs, walks_per_node=1, length=2
        ).collect()
    }
    assert wk == want_wk and len(wk) > 0
    cl = {tuple(r) for r in g.entity_closeness(n_seeds=3, max_dist=3).collect()}
    want_cl = {
        tuple(r)
        for r in centrality.harmonic_closeness(
            pairs, n_seeds=3, max_dist=3
        ).collect()
    }
    assert cl == want_cl and len(cl) > 0
    pats = [("?a", "uses_tool", "?t")]
    opt = [("?b", "asks_about", "?a")]
    got = {tuple(r) for r in g.match(pats, optional=opt).collect()}
    want = {
        tuple(r)
        for r in KG.bgp_match(g._rel_triples(), pats, optional=opt).collect()
    }
    assert got == want and len(got) > 0


def test_graphview_scc_summary_macro_steps(g):
    """entity_scc / summary_graph console sugar agrees with the operators
    on the same REL pairs."""
    from codepropertygraph_spark.operators import centrality

    pairs = g._rel_pairs().localCheckpoint(eager=True)
    sc = {tuple(r) for r in g.entity_scc(max_hops=3).collect()}
    want_sc = {
        tuple(r) for r in centrality.scc_bounded(pairs, max_hops=3).collect()
    }
    assert sc == want_sc and len(sc) > 0
    sg = {tuple(r) for r in g.summary_graph(iters=1).collect()}
    want_sg = {
        tuple(r)
        for r in centrality.community_graph(
            pairs, centrality.lpa_communities(pairs, iters=1)
        ).collect()
    }
    assert sg == want_sg and len(sg) > 0
