"""Property-based semantic parity: for ANY grammar-conforming transcript
set, the distributed pipeline's triples equal the frozen single-node
reference extractor's. This goes beyond the reference's test strategy
(which has no property-based tests) and fuzzes the edge shapes the fixed
corpus can't cover: single-turn conversations, duplicate turn_idx clusters,
all-unknown clauses, hub-only conversations, repeated identical turns.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from codepropertygraph_spark import schema as S
from codepropertygraph_spark import testdata as td
from codepropertygraph_spark.operators import kg

ALIASES = sorted({r["alias"] for r in td.build_alias_dict(td.build_entities())})
UNKNOWNS = [f"zzq_{i}" for i in range(5)]
SUBJ_OBJ = ALIASES[::37] + UNKNOWNS  # small, diverse surface pool
FILLERS = list(td.FILLERS)

clause = st.tuples(
    st.sampled_from(SUBJ_OBJ),
    st.sampled_from(S.TEXT_PREDICATES),
    st.sampled_from(SUBJ_OBJ),
)

turn_text = st.lists(clause, min_size=0, max_size=3).flatmap(
    lambda clauses: st.sampled_from(FILLERS).map(
        lambda f: " ".join(
            [f] + [tok for c in clauses for tok in (*c, f)] if clauses else [f]
        )
    )
)

# out-of-grammar shapes: predicates dangling at turn boundaries (incomplete
# clauses) — 'pred obj ...', '... subj pred', a lone predicate. The frozen
# extractor's 0<i<len-1 guard skips these; the pipeline must agree (the
# pred_adjacent complete-clause gate in extraction._pred_adjacent_col).
boundary_pred_text = st.tuples(
    st.sampled_from(S.TEXT_PREDICATES),
    st.sampled_from(SUBJ_OBJ),
    st.sampled_from(SUBJ_OBJ),
    st.sampled_from(S.TEXT_PREDICATES),
    st.sampled_from([0, 1, 2, 3]),
).map(
    lambda t: {
        0: t[0],                                  # lone predicate
        1: f"{t[0]} {t[1]}",                      # predicate-first, no subject
        2: f"{t[1]} {t[3]}",                      # predicate-last, no object
        3: f"{t[0]} {t[1]} {t[2]} {t[3]}",        # dangling at both ends
    }[t[4]]
)

any_turn_text = st.one_of(turn_text, turn_text, turn_text, boundary_pred_text)


@st.composite
def transcripts_rows(draw):
    n_convs = draw(st.integers(1, 3))
    rows = []
    base = datetime(2024, 1, 1)
    for c in range(n_convs):
        n_turns = draw(st.integers(1, 6))
        turn_idx = 0
        for t in range(n_turns):
            # duplicate and gapped turn_idx, ts strictly increasing
            if not draw(st.booleans()):
                turn_idx += draw(st.integers(1, 2))
            rows.append(
                {
                    "conv_id": f"h{c}",
                    "turn_idx": turn_idx,
                    "role": "user" if t % 2 == 0 else "assistant",
                    "text": draw(any_turn_text),
                    "tool": None,
                    "ts": base + timedelta(seconds=c * 10000 + t * 10),
                }
            )
    return rows


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(rows=transcripts_rows())
def test_pipeline_equals_reference_on_arbitrary_grammar(spark_global, rows):
    _, alias_rows = td.generate_transcripts("sf0.001")  # dictionary only
    expected = td.reference_extract(rows, alias_rows)

    tr = spark_global.createDataFrame(
        [
            (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"])
            for r in rows
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    ad = spark_global.createDataFrame(
        [
            (a["alias"], a["canonical_name"], a["entity_type"], a["prior"])
            for a in alias_rows
        ],
        "alias string, canonical_name string, entity_type string, prior double",
    )
    got = {tuple(r) for r in kg.final_triples(tr, ad).collect()}
    assert got == expected


@st.composite
def transcripts_with_tools(draw):
    """Transcripts whose tool column is set INDEPENDENTLY of the text —
    including tool values that never appear as a text token and tools
    unknown to the dictionary (the blind spot where dangling CALL edges
    lived)."""
    rows = draw(transcripts_rows())
    tools = ALIASES[::101] + ["ghost_tool_1", "ghost_tool_2"]
    for r in rows:
        if draw(st.booleans()):
            r["tool"] = draw(st.sampled_from(tools))
            r["role"] = "tool"
    return rows


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(rows=transcripts_with_tools())
def test_graph_validates_clean_on_arbitrary_input(spark_global, rows):
    """Structural property: for ANY input — including tool values absent
    from turn text or unknown to the dictionary — the built graph has no
    dangling endpoints, no disallowed edge facts, and conforms to the
    declared cardinalities."""
    from codepropertygraph_spark.operators import canonicalize
    from codepropertygraph_spark.operators import graph as G
    from codepropertygraph_spark.plans import pipeline as P

    _, alias_rows = td.generate_transcripts("sf0.001")
    spark = spark_global
    tr = spark.createDataFrame(
        [
            (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"])
            for r in rows
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    ad = spark.createDataFrame(
        [
            (a["alias"], a["canonical_name"], a["entity_type"], a["prior"])
            for a in alias_rows
        ],
        "alias string, canonical_name string, entity_type string, prior double",
    )
    merge = canonicalize.merge_map(ad).localCheckpoint(eager=True)
    mentions, toolcalls = G.mention_nodes(tr, ad), G.toolcall_nodes(tr)
    nodes = (
        G.conversation_nodes(tr)
        .unionByName(G.turn_nodes(tr))
        .unionByName(mentions)
        .unionByName(toolcalls)
        .unionByName(G.entity_nodes(mentions, toolcalls, ad, merge))
    )
    edges = (
        G.ast_edges(tr, ad)
        .unionByName(G.next_edges(tr))
        .unionByName(G.contains_edges(tr, ad))
        .unionByName(G.ref_edges(mentions, ad, merge))
        .unionByName(G.call_edges(toolcalls, ad, merge))
        .unionByName(G.rel_edges(kg.final_triples(tr, ad, merge=merge)))
    )
    violations = P.validate_frames(spark, nodes, edges).collect()
    assert violations == [], violations


# -- cross-conversation closure: adaptive strategies vs brute force -----------
#
# reachable_cross_conversation picks between a pigeonhole proof (dense
# corpora) and an expansion join (sparse) at the final crossing level, and
# runs a witness-summary algebra at intermediate levels. All three code
# paths must agree with the obvious conv-carrying formulation on ANY input.
# Entity-pool size 4 drives examples into the dense/pigeonhole regime,
# 12 into the sparse/expansion regime.


@st.composite
def conv_edge_sets(draw):
    n_ent = draw(st.sampled_from([4, 12]))
    ents = [f"e{i}" for i in range(n_ent)]
    n_conv = draw(st.integers(2, 5))
    edges = set()
    for c in range(n_conv):
        for _ in range(draw(st.integers(1, 8))):
            edges.add((f"c{c}", draw(st.sampled_from(ents)), draw(st.sampled_from(ents))))
    return sorted(edges)


def _brute_cross(edges, max_hops, max_crossings, sources=None):
    from collections import defaultdict

    adj = defaultdict(lambda: defaultdict(set))
    for c, s, o in edges:
        adj[c][s].add(o)
    within = defaultdict(set)  # conv -> {(s, d)}
    for c, a in adj.items():
        for start in list(a):
            frontier, reached = {start}, set()
            for _ in range(max_hops):
                nxt = {m for n in frontier for m in a.get(n, ()) if m not in reached}
                if not nxt:
                    break
                reached |= nxt
                frontier = nxt
            for d in reached:
                within[c].add((start, d))
    best = {}
    origins = sources if sources is not None else {s for c in within for s, _ in within[c]}
    for s in origins:
        # BFS over (node, conv-of-last-segment) states, counting crossings
        states = {(d, c) for c in within for (x, d) in within[c] if x == s}
        for d, _ in states:
            best.setdefault((s, d), 0)
        for k in range(1, max_crossings + 1):
            nxt = set()
            for node, c in states:
                for c2 in within:
                    if c2 == c:
                        continue
                    for x, d in within[c2]:
                        if x == node:
                            nxt.add((d, c2))
                            if (s, d) not in best:
                                best[(s, d)] = k
            states = nxt
    return {(s, d, k) for (s, d), k in best.items()}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(edges=conv_edge_sets(), depth=st.sampled_from([1, 2]))
def test_cross_conversation_equals_brute_force(spark_global, edges, depth):
    from codepropertygraph_spark.operators import dataflow

    e = spark_global.createDataFrame(edges, "conv_id string, s string, o string")
    got = {
        (r.src, r.dst, r.crossings)
        for r in dataflow.reachable_cross_conversation(
            e, max_hops=3, max_crossings=depth
        ).collect()
    }
    assert got == _brute_cross(edges, 3, depth)


def test_cross_conversation_sources_restriction(spark_global):
    """sources= must restrict ORIGINS only (bridge/depart stay global):
    a golden multi-conv chain where the restricted answer is the brute-force
    answer filtered to the given origins."""
    from codepropertygraph_spark.operators import dataflow

    edges = [
        ("c0", "a", "b"), ("c0", "b", "h"),
        ("c1", "h", "x"), ("c1", "x", "y"),
        ("c2", "y", "z"), ("c2", "h", "q"),
    ]
    e = spark_global.createDataFrame(edges, "conv_id string, s string, o string")
    srcs = spark_global.createDataFrame([("a",)], "src string")
    got = {
        (r.src, r.dst, r.crossings)
        for r in dataflow.reachable_cross_conversation(
            e, max_hops=3, max_crossings=2, sources=srcs
        ).collect()
    }
    want = {t for t in _brute_cross(edges, 3, 2) if t[0] == "a"}
    assert got == want and ("a", "z", 2) in got
