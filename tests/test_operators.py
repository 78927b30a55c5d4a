"""Per-operator golden tests on tiny handcrafted fixtures — the analog of the
reference's per-pass tests on inline programs (CfgCreationPassTests.scala:
19-70 ``succOf(...) shouldBe expected(...)`` pattern).
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from codepropertygraph_spark import schema as S
from codepropertygraph_spark.operators import (
    canonicalize,
    dataflow,
    extraction,
    kg,
    linking,
    ordering,
)


def _mini_transcripts(spark):
    """3-turn conversation with a duplicate turn_idx (ts tie-break) plus a
    single-turn conversation."""
    rows = [
        ("cA", 1, "user", "so p1 mentions p2 ok", None, datetime(2024, 1, 1, 0, 0, 0)),
        # two rows with turn_idx=2; ts orders t2a before t2b
        ("cA", 2, "assistant", "p2 asks_about weird_x then", None, datetime(2024, 1, 1, 0, 0, 10)),
        ("cA", 2, "tool", "p1 uses_tool hammer so", "hammer", datetime(2024, 1, 1, 0, 0, 20)),
        ("cB", 7, "user", "just filler words here", None, datetime(2024, 1, 2)),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


def _mini_alias(spark):
    rows = [
        ("p1", "person_one", "PERSON", 0.9),
        ("p2", "person_two", "PERSON", 0.8),
        # collision: surface 'hammer' maps to two entities; tool_hammer wins on prior
        ("hammer", "tool_hammer", "TOOL", 0.9),
        ("hammer", "org_hammer", "ORG", 0.2),
    ]
    return spark.createDataFrame(
        rows, "alias string, canonical_name string, entity_type string, prior double"
    )


def test_ordered_turns_stable(spark):
    t = ordering.ordered_turns(_mini_transcripts(spark))
    got = {
        (r.conv_id, r.turn_order): r.text
        for r in t.collect()
    }
    assert got[("cA", 1)].startswith("so p1")
    assert got[("cA", 2)].startswith("p2 asks_about")  # ts breaks the tie
    assert got[("cA", 3)].startswith("p1 uses_tool")
    assert got[("cB", 1)].startswith("just filler")


def test_next_edges(spark):
    n = ordering.next_edges(_mini_transcripts(spark)).collect()
    got = {(r.conv_id, r.src_order, r.dst_order) for r in n}
    assert got == {("cA", 1, 2), ("cA", 2, 3)}  # cB single turn: no edge


def test_raw_triples_golden(spark):
    rt = extraction.raw_triples(_mini_transcripts(spark))
    got = {(r.conv_id, r.subj_surface, r.pred, r.obj_surface) for r in rt.collect()}
    assert got == {
        ("cA", "p1", "mentions", "p2"),
        ("cA", "p2", "asks_about", "weird_x"),
        ("cA", "p1", "uses_tool", "hammer"),
    }


def test_mentions_include_pred_adjacent_unknowns(spark):
    m = extraction.mention_surfaces(_mini_transcripts(spark), _mini_alias(spark))
    got = {(r.conv_id, r.surface, r.in_dict) for r in m.collect()}
    assert ("cA", "weird_x", False) in got  # external stub candidate
    assert ("cA", "p1", True) in got
    assert ("cA", "hammer", True) in got
    assert not any(s == "filler" for _, s, _ in got)  # non-adjacent unknowns excluded


def test_scored_linking_collision(spark):
    best = {r.alias: r.canonical_name for r in linking.best_alias(_mini_alias(spark)).collect()}
    assert best["hammer"] == "tool_hammer"  # max prior wins


def test_linking_stubs(spark):
    rt = extraction.raw_triples(_mini_transcripts(spark))
    lt = linking.linked_triples_premerge(rt, _mini_alias(spark))
    got = {(r.subj_canonical, r.pred, r.obj_canonical) for r in lt.collect()}
    assert ("person_two", "asks_about", "external:weird_x") in got
    assert ("person_one", "uses_tool", "tool_hammer") in got


def test_connected_components_chain(spark):
    nodes = spark.createDataFrame([(c,) for c in "abcdexy"], "name string")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("x", "y"), ("c", "d")], "a string, b string"
    )
    cc = {r.name: r.component for r in canonicalize.connected_components(nodes, edges).collect()}
    assert cc == {"a": "a", "b": "a", "c": "a", "d": "a", "e": "a", "x": "x", "y": "x"}


def test_connected_components_raises_when_not_converged(spark):
    nodes = spark.createDataFrame([(c,) for c in "abcdef"], "name string")
    edges = spark.createDataFrame(
        [(a, b) for a, b in zip("abcde", "bcdef")], "a string, b string"
    )
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        canonicalize.connected_components(nodes, edges, max_iter=2)


def test_merge_map_token_vs_lsh(spark, alias_dict):
    token = {
        (r.canonical_name, r.merged_name)
        for r in canonicalize.merge_map_spark(alias_dict, use_lsh=False).collect()
    }
    lsh = {
        (r.canonical_name, r.merged_name)
        for r in canonicalize.merge_map_spark(alias_dict, use_lsh=True).collect()
    }
    assert token == lsh  # LSH blocking loses nothing at this similarity level


def _stop_token_alias(spark, n=100):
    """'svc' plus n 'svc_<i>': every name carries the stop token, and
    ('svc', 'svc_i') sits exactly on the J = 1/2 threshold."""
    rows = [("svc", "svc", "TOOL", 0.9)]
    rows += [(f"svc_{i}", f"svc_{i}", "TOOL", 0.9) for i in range(n)]
    return spark.createDataFrame(
        rows, "alias string, canonical_name string, entity_type string, prior double"
    )


def _random_alias(spark, seed=11, n=300):
    """Names of 1-5 tokens drawn with repetition from a 12-token vocabulary
    over two entity types: shared tokens everywhere, repeated tokens
    inside a name ('t3_t3_t7'), many pairs at or near the threshold."""
    import random

    rng = random.Random(seed)
    vocab = [f"t{i}" for i in range(12)]
    rows = []
    for i in range(n):
        name = "_".join(rng.choice(vocab) for _ in range(rng.randint(1, 5)))
        rows.append((f"a{i}", name, rng.choice(["ORG", "TOOL"]), 0.5))
    return spark.createDataFrame(
        rows, "alias string, canonical_name string, entity_type string, prior double"
    )


@pytest.mark.parametrize("which", ["fixture", "stop_tokens", "random"])
def test_merge_map_driver_path_equals_spark_paths(spark, alias_dict, which):
    from codepropertygraph_spark import testdata as td

    ad = {
        "fixture": lambda: alias_dict,
        "stop_tokens": lambda: _stop_token_alias(spark),
        "random": lambda: _random_alias(spark),
    }[which]()
    as_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    driver = as_set(canonicalize.merge_map(ad))
    assert driver == as_set(canonicalize.merge_map_spark(ad, use_lsh=True))
    assert driver == as_set(canonicalize.merge_map_spark(ad, use_lsh=False))
    rows = [r.asDict() for r in ad.collect()]
    assert driver == set(td.build_merge_map(rows).items())
    if which == "stop_tokens":
        assert ("svc_0", "svc") in driver


def test_merge_map_gate_zero_takes_spark_path(spark, monkeypatch):
    ad = _mini_alias(spark)
    calls = []
    spark_path = canonicalize.merge_map_spark
    monkeypatch.setattr(canonicalize, "MERGE_MAP_DRIVER_MAX_ROWS", 0)
    monkeypatch.setattr(
        canonicalize,
        "merge_map_spark",
        lambda *a, **k: calls.append(a) or spark_path(*a, **k),
    )
    got = {tuple(r) for r in canonicalize.merge_map(ad).collect()}
    assert len(calls) == 1
    assert got == {(n, n) for n in ("person_one", "person_two", "tool_hammer", "org_hammer")}


def test_merge_map_driver_path_job_count(spark, alias_dict):
    sc = spark.sparkContext
    sc.setJobGroup("merge-map-jobs", "merge_map below the gate")
    try:
        canonicalize.merge_map(alias_dict)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("merge-map-jobs")) == 1


def test_merge_map_matches_frozen(spark, alias_dict, expected_components):
    got = {
        (r.canonical_name, r.merged_name)
        for r in canonicalize.merge_map(alias_dict).collect()
    }
    exp = {(r.canonical_name, r.merged_name) for r in expected_components.collect()}
    assert got == exp


def test_reachable_within(spark):
    edges = spark.createDataFrame(
        [("c", "a", "b"), ("c", "b", "d"), ("c", "d", "e"), ("c", "e", "f"), ("c", "f", "g")],
        "conv_id string, s string, o string",
    )
    got = {(r.src, r.dst) for r in dataflow.reachable_within(edges, max_hops=4).collect()}
    assert ("a", "e") in got  # 3 hops
    assert ("a", "f") in got  # 4 hops
    assert ("a", "g") not in got  # 5 hops — beyond bound
    assert ("b", "g") in got


def test_follows_skips_mentionless_turn(spark):
    rows = [
        ("cC", 1, "user", "p1 mentions p2 x", None, datetime(2024, 1, 1, 0, 0, 0)),
        ("cC", 2, "assistant", "nothing to see", None, datetime(2024, 1, 1, 0, 0, 10)),
        ("cC", 3, "user", "p2 mentions p1 y", None, datetime(2024, 1, 1, 0, 0, 20)),
    ]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    merge = spark.createDataFrame([], "canonical_name string, merged_name string")
    f = {
        (r.subj, r.pred, r.obj)
        for r in kg.follows_triples(tr, _mini_alias(spark), merge).collect()
    }
    # adjacent pairs only: (t1,t2) and (t2,t3) have a mentionless side → empty
    assert f == set()


def test_pred_adjacent_requires_complete_clause(spark):
    """ADVICE regression: a predicate dangling at a turn boundary (no subject
    or no object) promotes NO external mention — the frozen extractor's
    0<i<len-1 clause guard. Dict tokens are mentions regardless."""
    rows = [
        # pred-first: 'mentions' has no subject → weird_a is NOT a mention
        ("cP", 1, "user", "mentions weird_a p1", None, datetime(2024, 1, 1, 0, 0, 0)),
        # pred-last: 'mentions' has no object → weird_b is NOT a mention
        ("cP", 2, "user", "weird_b mentions", None, datetime(2024, 1, 1, 0, 0, 10)),
        # complete clause: both unknown sides ARE mentions
        ("cP", 3, "user", "weird_c mentions weird_d", None, datetime(2024, 1, 1, 0, 0, 20)),
    ]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    m = extraction.mention_surfaces(tr, _mini_alias(spark))
    got = {(r.surface, r.in_dict) for r in m.collect()}
    assert got == {("p1", True), ("weird_c", False), ("weird_d", False)}

    # frozen-extractor parity on the same rows (triples incl. follows)
    from codepropertygraph_spark import testdata as td

    row_dicts = [
        dict(zip(("conv_id", "turn_idx", "role", "text", "tool", "ts"), r))
        for r in rows
    ]
    alias_rows = [
        {"alias": "p1", "canonical_name": "person_one", "entity_type": "PERSON", "prior": 0.9},
    ]
    expected = td.reference_extract(row_dicts, alias_rows)
    ad = spark.createDataFrame(
        [(a["alias"], a["canonical_name"], a["entity_type"], a["prior"]) for a in alias_rows],
        "alias string, canonical_name string, entity_type string, prior double",
    )
    got_triples = {tuple(r) for r in kg.final_triples(tr, ad).collect()}
    assert got_triples == expected


def test_entity_nodes_cover_tool_column(spark):
    """ADVICE regression (high): a turn whose tool value never appears in any
    turn text must still produce the ENTITY node its CALL edge points to —
    no dangling CALL endpoints."""
    from codepropertygraph_spark.operators import graph as G

    rows = [
        # tool column = 'hammer' but the text never contains that token
        ("cT", 1, "tool", "p1 asks_about p2 ok", "hammer", datetime(2024, 1, 1)),
    ]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    ad = _mini_alias(spark)
    merge = canonicalize.merge_map(ad).localCheckpoint(eager=True)
    mentions, toolcalls = G.mention_nodes(tr, ad), G.toolcall_nodes(tr)
    entities = G.entity_nodes(mentions, toolcalls, ad, merge).collect()
    entity_ids = {r.id for r in entities}
    call_dsts = {r.dst for r in G.call_edges(toolcalls, ad, merge).collect()}
    assert call_dsts, "expected a CALL edge"
    assert call_dsts <= entity_ids, "CALL edge dst must exist as an ENTITY node"
    names = {r.full_name for r in entities}
    assert "tool_hammer" in names  # resolved through the scored dictionary


def test_lsh_beats_token_blocking_on_stop_tokens(spark):
    """Why LSH is the default at scale: token blocking on a stop-token-heavy
    dictionary is (a) quadratic in the stop token's document frequency and
    (b) loses RECALL once the df cap kicks in — a true ≥0.5-Jaccard pair
    whose ONLY shared token is the capped stop token ('svc' vs 'svc_0',
    J = 1/2) silently never merges. LSH blocking is similarity-based, not
    df-based: it finds that pair regardless, and reproduces the uncapped
    token-blocking merge map exactly."""
    rows = [("svc", "svc", "TOOL", 0.9)]
    for i in range(80):
        # every name carries the stop token 'svc'
        rows.append((f"svc_{i}", f"svc_{i}", "TOOL", 0.9))
    ad = spark.createDataFrame(
        rows, "alias string, canonical_name string, entity_type string, prior double"
    )
    # uncapped token blocking: the 'svc' block alone is C(81,2) = 3240 pairs
    assert canonicalize.candidate_pairs_token_block(ad).count() >= 3240
    # capped (the regime a 100x dictionary is always in): the stop token is
    # dropped from blocking and the true pair ('svc','svc_0') is LOST
    capped_pairs = canonicalize.verified_pairs(
        canonicalize.candidate_pairs_token_block(ad, max_token_df=50)
    )
    assert capped_pairs.where(
        (F.col("a") == "svc") & (F.col("b") == "svc_0")
    ).count() == 0
    # LSH finds it (similarity 1/2 >= threshold), with no df dependence
    lsh_pairs = canonicalize.verified_pairs(canonicalize.candidate_pairs_lsh(ad))
    assert lsh_pairs.where(
        (F.col("a") == "svc") & (F.col("b") == "svc_0")
    ).count() == 1
    # and the full LSH merge map equals the exact-recall (uncapped) one
    token_map = {
        (r.canonical_name, r.merged_name)
        for r in canonicalize.merge_map_spark(ad, use_lsh=False).collect()
    }
    lsh_map = {
        (r.canonical_name, r.merged_name)
        for r in canonicalize.merge_map_spark(ad, use_lsh=True).collect()
    }
    assert lsh_map == token_map


def test_resolve_overrides_walks_inheritance(spark):
    """BindingTable + override resolution (A12): nearest-ancestor binding
    along inheritance edges, deterministic tie-break, stub fallback."""
    hierarchy = spark.createDataFrame(
        [("C", "B"), ("B", "A")], "child string, parent string"
    )
    bindings = spark.createDataFrame(
        [("A", "run", "a_run"), ("C", "run", "c_run"), ("A", "stop", "a_stop")],
        "type string, name string, target string",
    )
    calls = spark.createDataFrame(
        [
            (1, "C", "run"),   # bound directly
            (2, "B", "run"),   # inherited from A (depth 1)
            (3, "C", "stop"),  # inherited from A (depth 2)
            (4, "A", "missing"),  # no binding anywhere -> stub
            (5, "X", "run"),   # type outside the hierarchy -> stub
        ],
        "site_id long, recv_type string, name string",
    )
    got = {
        r.site_id: (r.target, r.depth)
        for r in linking.resolve_overrides(calls, bindings, hierarchy).collect()
    }
    assert got == {
        1: ("c_run", 0),
        2: ("a_run", 1),
        3: ("a_stop", 2),
        4: ("external:missing", -1),
        5: ("external:run", -1),
    }


def test_resolve_overrides_all_parentless_unresolved(spark):
    """ADVICE regression: a batch whose ONLY unresolved receiver types are
    unbound and parentless must still emit external stubs (the old post-loop
    fallback derived the stub set from the already-empty frontier)."""
    hierarchy = spark.createDataFrame([], "child string, parent string")
    bindings = spark.createDataFrame([], "type string, name string, target string")
    calls = spark.createDataFrame(
        [(1, "Q", "ping"), (2, "R", "pong")],
        "site_id long, recv_type string, name string",
    )
    got = {
        r.site_id: (r.target, r.depth)
        for r in linking.resolve_overrides(calls, bindings, hierarchy).collect()
    }
    assert got == {1: ("external:ping", -1), 2: ("external:pong", -1)}


def test_lsh_missed_pairs_empty_on_shipped_dictionary(spark, alias_dict):
    """The documented recall check for flipping a new dictionary to the LSH
    default: zero verified pairs missed on the shipped dictionary."""
    assert canonicalize.lsh_missed_pairs(alias_dict).count() == 0


def test_link_source_files_resolves_and_creates(spark):
    """FileLinker semantics (FileLinker.scala:22-63): existing files resolve
    by exact name; missing keys get ONE stub file each, with content-
    addressed ids shared between the stub row and its edges, and order
    numbers continuing past the existing maximum in deterministic key
    order."""
    from codepropertygraph_spark.ids import LABEL_BASE

    files = spark.createDataFrame(
        [(101, "CONVERSATION", "c1", 7)], "id long, label string, name string, order int"
    )
    srcs = spark.createDataFrame(
        [(1, "c1"), (2, "c9"), (3, "c9"), (4, "c8")], "id long, conv_id string"
    )
    edges, created = linking.link_source_files(srcs, files)
    e = {r.src: r for r in edges.collect()}
    assert len(e) == 4 and all(r.label == S.SOURCE_FILE for r in e.values())
    assert e[1].dst == 101  # existing file resolved by name
    c = {r.name: r for r in created.collect()}
    assert set(c) == {"c8", "c9"}  # one stub per missing key
    # orders continue past the max (7), assigned in key order
    assert (c["c8"].order, c["c9"].order) == (8, 9)
    # edges to missing files carry the SAME id as the created stub
    assert e[2].dst == c["c9"].id == e[3].dst
    assert e[4].dst == c["c8"].id
    for r in c.values():
        assert r.label == S.CONVERSATION and r.conv_id == r.name
        assert LABEL_BASE[S.CONVERSATION] <= r.id < LABEL_BASE[S.CONVERSATION] + (1 << 60)
    # determinism: a second invocation is row-identical
    e2, c2 = linking.link_source_files(srcs, files)
    assert sorted(map(tuple, e2.collect())) == sorted(map(tuple, edges.collect()))
    assert sorted(map(tuple, c2.drop("props").collect())) == sorted(
        map(tuple, created.drop("props").collect())
    )


def test_asof_join_golden(spark):
    """AS-OF semantics: latest right at-or-before each left ts per key;
    equal timestamps match; unmatched lefts keep NULLs (left join);
    tolerance discards stale matches; per-key isolation."""
    from datetime import datetime

    from codepropertygraph_spark.operators import relational

    T = lambda s: datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, "u1", T(10)), (2, "u1", T(30)), (3, "u2", T(5)), (4, "u3", T(50))],
        "event_id long, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u1", T(10), 100), ("u1", T(20), 200), ("u2", T(9), 300)],
        "user_id string, ts timestamp, payload long",
    )
    got = {
        r.event_id: (r.payload_asof, r.ts_asof)
        for r in relational.asof_join(
            left, right, on="user_id", ts="ts", right_cols=["payload"]
        ).collect()
    }
    assert got[1] == (100, T(10))   # equal ts matches
    assert got[2] == (200, T(20))   # latest prior wins
    assert got[3] == (None, None)   # right row is AFTER the left ts
    assert got[4] == (None, None)   # key with no right rows at all
    # tolerance: u1@30 matched u1@20 (10s back) — a 5s tolerance kills it
    got_tol = {
        r.event_id: r.payload_asof
        for r in relational.asof_join(
            left, right, on="user_id", ts="ts",
            right_cols=["payload"], tolerance_us=5_000_000,
        ).collect()
    }
    assert got_tol[1] == 100 and got_tol[2] is None


def test_range_join_binned_golden(spark):
    """Bin-edge semantics: inclusive BETWEEN bounds; intervals spanning
    multiple bins match points in every spanned bin exactly once; points
    outside every interval drop; bin width far smaller than the span still
    yields each pair once (no dup from the explosion)."""
    from datetime import datetime

    from codepropertygraph_spark.operators import relational

    from datetime import timedelta

    T = lambda s: datetime(2024, 1, 1) + timedelta(seconds=s)
    pts = spark.createDataFrame(
        [(1, "u", T(0)), (2, "u", T(30)), (3, "u", T(59)), (4, "u", T(61)),
         (5, "v", T(30))],
        "pid long, user_id string, ts timestamp",
    )
    iv = spark.createDataFrame(
        [(10, "u", T(0), T(59))],
        "iid long, user_id string, w_start timestamp, w_end timestamp",
    )
    for bin_us in (5_000_000, 60_000_000, 3_600_000_000):
        got = sorted(
            r.pid
            for r in relational.range_join_binned(
                pts, iv, on="user_id", pt_ts="ts",
                start="w_start", end="w_end", bin_us=bin_us,
            ).collect()
        )
        assert got == [1, 2, 3], f"bin_us={bin_us}: {got}"


def test_link_source_files_duplicate_file_name_single_edge(spark):
    """Two CONVERSATION nodes sharing a name must NOT fan each src row out
    into duplicate SOURCE_FILE edges (ZERO_OR_ONE cardinality, schema.py);
    the min-id candidate wins deterministically — the linkToSingle
    multiple-candidate discipline (Linker.scala:213-227)."""
    files = spark.createDataFrame(
        [(101, "CONVERSATION", "c1", 1), (102, "CONVERSATION", "c1", 2)],
        "id long, label string, name string, order int",
    )
    srcs = spark.createDataFrame([(1, "c1"), (2, "c1")], "id long, conv_id string")
    edges, created = linking.link_source_files(srcs, files)
    rows = edges.collect()
    assert len(rows) == 2  # exactly one edge per src, not one per candidate
    assert {r.dst for r in rows} == {101}  # min-id candidate
    assert created.count() == 0


def test_asof_join_duplicate_right_ts_deterministic(spark):
    """Several right rows at the SAME (key, ts): the struct-max payload wins
    deterministically regardless of partition order."""
    from datetime import datetime

    from codepropertygraph_spark.operators import relational

    T = lambda s: datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, "u1", T(10))], "event_id long, user_id string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("u1", T(5), 100), ("u1", T(5), 300), ("u1", T(5), 200)],
        "user_id string, ts timestamp, payload long",
    )
    for n_parts in (1, 3, 7):
        got = relational.asof_join(
            left, right.repartition(n_parts), on="user_id", ts="ts",
            right_cols=["payload"],
        ).collect()
        assert len(got) == 1 and got[0].payload_asof == 300


def test_funnel_golden(spark):
    """Funnel over a crafted event log: completions, out-of-order steps
    don't count, conversion window cuts off late steps, step times are the
    FIRST qualifying occurrence."""
    from datetime import datetime

    from codepropertygraph_spark.operators import relational

    D = datetime
    rows = [
        # u1: full funnel in order
        (1, D(2024, 1, 1), "a"), (1, D(2024, 1, 2), "b"), (1, D(2024, 1, 3), "c"),
        # u2: step b BEFORE a -> only step 1 counts; later b missing
        (2, D(2024, 1, 1), "b"), (2, D(2024, 1, 2), "a"),
        # u3: b inside window, c outside the 7-day window from a
        (3, D(2024, 1, 1), "a"), (3, D(2024, 1, 2), "b"), (3, D(2024, 1, 20), "c"),
        # u4: two b's after a -> first one is t_2
        (4, D(2024, 1, 1), "a"), (4, D(2024, 1, 4), "b"), (4, D(2024, 1, 2), "b"),
        # u5: never does step a -> absent from output
        (5, D(2024, 1, 1), "b"), (5, D(2024, 1, 2), "c"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    got = {
        r.user: r
        for r in relational.funnel(ev, ["a", "b", "c"]).collect()
    }
    assert set(got) == {1, 2, 3, 4}
    us = lambda d: int(d.timestamp() * 1_000_000)
    assert got[1].step_reached == 3 and got[1].t_3 == us(D(2024, 1, 3))
    assert got[2].step_reached == 1 and got[2].t_2 is None
    assert got[3].step_reached == 2 and got[3].t_3 is None
    assert got[4].step_reached == 2 and got[4].t_2 == us(D(2024, 1, 2))

    import pytest as _pt
    with _pt.raises(ValueError, match="non-empty"):
        relational.funnel(ev, [])


def test_cohort_retention_golden(spark):
    """Cohorts by first-event week; offset-0 cell equals cohort size;
    multiple events in one week count once."""
    from datetime import datetime

    from codepropertygraph_spark.operators import relational

    D = datetime
    rows = [
        # u1 and u2 start week of Jan 1 2024 (Mon); u1 returns week +2
        (1, D(2024, 1, 2)), (1, D(2024, 1, 3)), (1, D(2024, 1, 16)),
        (2, D(2024, 1, 4)),
        # u3 starts the next week
        (3, D(2024, 1, 9)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r.cohort_week, r.week_offset): r.n_active
        for r in relational.cohort_retention(ev).collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
    }


def test_anomaly_flags_golden(spark):
    """Integer k-sigma flags equal a float z-score mirror away from the
    boundary, flag a planted outlier, never flag single-event users or
    constant streams, and the test is exact at the decision boundary by
    construction (pure integer comparison both sides)."""
    import statistics

    from codepropertygraph_spark.operators import relational

    # a single outlier needs n > k^2 + 1 to be flaggable at all
    # (max possible z in a population of n is (n-1)/sqrt(n))
    rows = (
        [(i, 1, 10.0) for i in range(19)] + [(19, 1, 99.0)]  # planted outlier
        + [(100, 2, 5.0)]                                    # singleton user
        + [(200 + i, 3, 7.0) for i in range(5)]              # constant stream
    )
    ev = spark.createDataFrame(rows, "event_id long, user_id long, value double")
    got = {r.event_id: r.flagged for r in relational.anomaly_flags(ev, k=3).collect()}
    vals = [10.0] * 19 + [99.0]
    mu = statistics.fmean(vals)
    var = statistics.pvariance(vals)
    for i in range(20):
        assert got[i] == ((vals[i] - mu) ** 2 > 9 * var), i
    assert got[19] is True and not any(got[i] for i in range(19))
    assert got[100] is False                     # singleton: never flagged
    assert not any(got[200 + i] for i in range(5))  # zero variance


def test_incremental_new_facts_matches_bruteforce(spark):
    """kg.incremental_new_facts == (distinct facts of the increment bucket)
    minus (distinct facts of the base bucket), with per-fact increment
    conversation counts — mirrored in pure Python over a synthetic triple
    set engineered to hit all three cases (incr-only, base-only, both)."""
    import hashlib

    def is_incr(conv):
        return int(hashlib.md5(f"incr|{conv}".encode()).hexdigest()[:15], 16) % 10 == 0

    convs = [f"c{i}" for i in range(40)]
    assert any(is_incr(c) for c in convs) and not all(is_incr(c) for c in convs)
    rows = []
    for i, c in enumerate(convs):
        rows.append((c, f"e{i % 5}", "refers_to", f"e{(i + 1) % 5}"))
        rows.append((c, "shared", "uses_tool", "hammer"))  # in every conv
        if is_incr(c):
            rows.append((c, f"only_{c}", "asks_about", "fresh"))
    triples = spark.createDataFrame(
        rows, "conv_id string, subj string, pred string, obj string"
    )
    got = {
        (r["subj"], r["pred"], r["obj"]): r["n_convs_incr"]
        for r in kg.incremental_new_facts(triples, increment_buckets=10).collect()
    }
    base_facts = {(s, p, o) for c, s, p, o in rows if not is_incr(c)}
    from collections import Counter

    incr_counts = Counter((s, p, o) for c, s, p, o in rows if is_incr(c))
    want = {f: n for f, n in incr_counts.items() if f not in base_facts}
    assert got == want and len(got) > 0
    # resume soundness: base facts ∪ new facts covers every distinct fact
    all_facts = {(s, p, o) for _, s, p, o in rows}
    assert base_facts | set(got) == all_facts


def test_collect_all_reports_every_failure(spark):
    """Concurrent branches: one failure is re-raised as itself, several are
    raised together, none dropped."""
    from codepropertygraph_spark.parallel import collect_all, eager_checkpoints

    ok = spark.range(3)
    boom_a = spark.range(1).select(F.raise_error(F.lit("boom_a")))
    boom_b = spark.range(1).select(F.raise_error(F.lit("boom_b")))

    assert [len(rows) for rows in collect_all(ok, ok)] == [3, 3]
    with pytest.raises(Exception, match="boom_a") as one:
        collect_all(ok, boom_a)
    assert not isinstance(one.value, ExceptionGroup)
    with pytest.raises(ExceptionGroup) as both:
        collect_all(boom_a, ok, boom_b)
    messages = [str(e) for e in both.value.exceptions]
    assert len(messages) == 2
    assert "boom_a" in messages[0] and "boom_b" in messages[1]
    with pytest.raises(ExceptionGroup):
        eager_checkpoints(boom_a, boom_b)
