"""Pass/overlay framework semantics: commit, resume/skip, rollback, counters,
validator — the analogs of CpgPassTests / CpgOverlayIntegrationTest /
LayerCreator dependency checks / cpgvalidator tests.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from codepropertygraph_spark import schema as S
from codepropertygraph_spark.plans import pipeline as P

# Spark jobs of one cold STANDARD_PASSES build of the sf0.001 fixture, as
# the commit records count them: 59 measured, plus a 10 % margin.
FIXTURE_BUILD_JOB_BUDGET = 65


@pytest.fixture(scope="module")
def warehouse(spark, transcripts, alias_dict, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    P.run_pipeline(spark, transcripts, alias_dict, wh)
    return wh


def test_all_overlays_committed(spark, warehouse):
    cat = P.Catalog(spark, warehouse)
    assert cat.overlay_names() == [p.name for p in P.STANDARD_PASSES]


def test_counters_and_walltime_recorded(spark, warehouse):
    cat = P.Catalog(spark, warehouse)
    for rec in cat.committed_overlays():
        assert rec["counters"] and all(v >= 0 for v in rec["counters"].values())
        assert rec["wall_seconds"] >= 0
        assert rec["lineage"]["tables"]


def test_fixture_build_within_job_budget(spark, warehouse):
    """Every pass records the Spark jobs it issued, and one cold build of
    the fixture stays within the job budget."""
    recs = P.Catalog(spark, warehouse).committed_overlays()
    jobs = {r["overlay"]: r["jobs"] for r in recs}
    assert all(n >= 1 for n in jobs.values()), jobs  # every pass writes
    assert sum(jobs.values()) <= FIXTURE_BUILD_JOB_BUDGET, jobs


def test_commit_bookkeeping_runs_no_spark_job(spark, tmp_path):
    """Row counts and schemas come from the parquet footers, and reads use
    the recorded schema: a pass writing two job-free frames issues exactly
    one Spark job per table write, reading it back issues none before an
    action, and the caller's job group is restored afterwards."""
    two = P.Pass("two", lambda ctx: {"a": spark.range(100), "b": spark.range(0)})
    with P._job_group(spark, "caller"):
        cat = P.run_pipeline(spark, None, None, str(tmp_path), passes=(two,))
        assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") == "pass:caller"
    (rec,) = cat.committed_overlays()
    assert rec["jobs"] == 2
    assert rec["counters"] == {"a": 100, "b": 0}
    assert rec["lineage"]["partition_rows"]["b"] == {}  # zero-row file omitted
    with P._job_group(spark, "probe") as jobs:
        a, b = cat.read_table("a"), cat.read_table("b")
        cat.check_commit(rec)
        assert jobs() == 0
    path = os.path.join(cat.overlays_dir, "00_two", "a")
    assert a.schema == b.schema == spark.read.parquet(path).schema
    assert a.count() == 100 and b.count() == 0


def test_interrupted_commits_resume_to_the_same_graph(
    spark, transcripts, alias_dict, warehouse, tmp_path, monkeypatch
):
    """Fault injection: a pass failing between two table writes, then one
    failing after its last write but before its marker, each followed by a
    rerun, end in the same overlays, counters and triples as an
    uninterrupted build."""
    wh = str(tmp_path / "wh_faults")
    footer_stats = P.footer_stats

    def fail_at(suffix):
        def stats(path):
            if path.endswith(suffix):
                raise RuntimeError("injected fault")
            return footer_stats(path)

        return stats

    # linking writes nodes, then edges
    monkeypatch.setattr(P, "footer_stats", fail_at("_linking/nodes"))
    with pytest.raises(RuntimeError, match="injected fault"):
        P.run_pipeline(spark, transcripts, alias_dict, wh)
    assert P.Catalog(spark, wh).overlay_names()[-1] == "canonicalize"
    # rel_triples writes edges, then triples, then its marker
    monkeypatch.setattr(P, "footer_stats", fail_at("_rel_triples/triples"))
    with pytest.raises(RuntimeError, match="injected fault"):
        P.run_pipeline(spark, transcripts, alias_dict, wh)
    assert P.Catalog(spark, wh).overlay_names()[-1] == "linking"
    assert os.listdir(os.path.join(wh, "overlays", "07_rel_triples", "triples"))
    monkeypatch.undo()
    got = P.run_pipeline(spark, transcripts, alias_dict, wh)
    want = P.Catalog(spark, warehouse)
    counters = lambda c: [(r["overlay"], r["counters"]) for r in c.committed_overlays()]
    assert counters(got) == counters(want)
    triples = lambda c: sorted(tuple(r) for r in c.read_table("triples").collect())
    assert triples(got) == triples(want)


def test_resume_detects_a_missing_part_file(
    spark, transcripts, alias_dict, warehouse, tmp_path
):
    """A committed overlay whose part file has gone no longer matches its
    marker: the next run raises, naming overlay, table and file."""
    wh = str(tmp_path / "wh_missing")
    shutil.copytree(warehouse, wh)
    (rec,) = [
        r for r in P.Catalog(spark, wh).committed_overlays() if r["overlay"] == "extraction"
    ]
    part = sorted(rec["lineage"]["partition_rows"]["nodes"])[0]
    os.remove(os.path.join(wh, "overlays", "02_extraction", "nodes", part))
    with pytest.raises(
        RuntimeError, match=f"overlay extraction: table nodes file {re.escape(part)}"
    ):
        P.run_pipeline(spark, transcripts, alias_dict, wh)


def _label_hashes(df) -> dict[str, tuple[int, str]]:
    """label -> (rows, content hash); map columns hash as sorted entries."""
    rows: dict[str, list[str]] = {}
    for r in df.collect():
        d = r.asDict()
        d["props"] = sorted((d["props"] or {}).items())
        rows.setdefault(d["label"], []).append(repr(sorted(d.items())))
    return {
        label: (len(v), hashlib.sha256("\n".join(sorted(v)).encode()).hexdigest())
        for label, v in rows.items()
    }


def test_committed_graph_matches_transcript_builders(
    spark, transcripts, alias_dict, warehouse
):
    """The passes read earlier overlays' committed rows; the oracles build
    the same graph straight from the transcripts. Both must agree label by
    label. Left out: the META_DATA node (no transcript builder) and
    decorate's merged-on-read TURN props (test_decorate_pass_merge_on_read)."""
    from codepropertygraph_spark.operators import canonicalize, kg, linking
    from codepropertygraph_spark.operators import graph as G

    tr, ad = transcripts, alias_dict
    merge = canonicalize.merge_map(ad)
    convs, turns = G.conversation_nodes(tr), G.turn_nodes(tr)
    mentions, toolcalls = G.mention_nodes(tr, ad), G.toolcall_nodes(tr)
    nodes = (
        convs.unionByName(turns)
        .unionByName(mentions)
        .unionByName(toolcalls)
        .unionByName(G.entity_nodes(mentions, toolcalls, ad, merge))
    )
    srcs = turns.unionByName(mentions).unionByName(toolcalls).select("id", "conv_id")
    edges = (
        G.ast_edges(tr, ad)
        .unionByName(G.next_edges(tr))
        .unionByName(G.contains_edges(tr, ad))
        .unionByName(linking.link_source_files(srcs, convs)[0])
        .unionByName(G.ref_edges(mentions, ad, merge))
        .unionByName(G.call_edges(toolcalls, ad, merge))
        .unionByName(G.rel_edges(kg.final_triples(tr, ad, merge=merge)))
    )
    cat = P.Catalog(spark, warehouse)
    decorated = F.map_filter("props", lambda k, _: ~k.isin("n_tokens", "n_preds"))
    committed = cat.nodes().where(F.col("label") != S.META_DATA).withColumn(
        "props", decorated
    )
    assert _label_hashes(committed) == _label_hashes(nodes)
    assert _label_hashes(cat.edges()) == _label_hashes(edges)


def test_resume_skips_applied(spark, transcripts, alias_dict, warehouse):
    before = P.Catalog(spark, warehouse).committed_overlays()
    P.run_pipeline(spark, transcripts, alias_dict, warehouse)
    after = P.Catalog(spark, warehouse).committed_overlays()
    assert [r["committed_at"] for r in before] == [r["committed_at"] for r in after]


def test_dependency_enforced(spark, transcripts, alias_dict, tmp_path):
    bad = (P.STANDARD_PASSES[1],)  # base_layer depends on meta_data
    with pytest.raises(RuntimeError, match="missing dependencies"):
        P.run_pipeline(spark, transcripts, alias_dict, str(tmp_path), passes=bad)


def test_rollback_then_rerun(spark, transcripts, alias_dict, warehouse):
    cat = P.Catalog(spark, warehouse)
    triples_before = cat.read_table("triples").count()
    cat.rollback_to(3)  # drop linking + rel_triples
    assert cat.read_table("triples") is None
    cat2 = P.run_pipeline(spark, transcripts, alias_dict, warehouse)
    assert cat2.read_table("triples").count() == triples_before


def test_validator_clean_graph(spark, warehouse):
    cat = P.Catalog(spark, warehouse)
    assert P.validate(cat).count() == 0


def test_validator_detects_corruption(spark, transcripts, alias_dict, warehouse, tmp_path):
    """A deliberately corrupted mini-graph must produce violations
    (FIXTURES.md §4)."""
    wh2 = str(tmp_path / "wh2")
    shutil.copytree(f"{warehouse}", wh2)
    cat = P.Catalog(spark, wh2)
    nodes = cat.nodes()
    some_entity = nodes.where(F.col("label") == S.ENTITY).limit(1).collect()[0].id
    some_conv = nodes.where(F.col("label") == S.CONVERSATION).limit(1).collect()[0].id
    bad_edges = spark.createDataFrame(
        [
            (some_entity, some_conv, "REL", None),  # ENTITY->CONVERSATION not allowed
            (12345678901234, some_conv, "AST", None),  # dangling src
        ],
        "src long, dst long, label string, props map<string,string>",
    )
    cat.commit_overlay(99, "corruption", {"edges": bad_edges})
    v = P.validate(cat).collect()
    kinds = sorted(r.kind for r in v)
    # 2 edge-fact violations plus the conversation gaining a forbidden
    # incoming AST edge (cardinality 0..0)
    assert kinds == ["cardinality_in", "edge_fact", "edge_fact"]


def test_pipeline_rerun_content_identical(spark, transcripts, alias_dict, warehouse, tmp_path):
    """StableOutputTests analog at the pipeline level: two independent
    warehouse builds produce content-identical node/edge/triple tables
    (sorted-content comparison, the reference's sorted-node-strings check)."""
    import hashlib

    wh2 = str(tmp_path / "wh_rerun")
    P.run_pipeline(spark, transcripts, alias_dict, wh2)

    def content_hash(cat, table):
        df = cat.read_table(table)
        rows = sorted(str(sorted(r.asDict().items())) for r in df.collect())
        h = hashlib.sha256()
        for r in rows:
            h.update(r.encode())
        return h.hexdigest()

    c1, c2 = P.Catalog(spark, warehouse), P.Catalog(spark, wh2)
    for table in ("nodes", "edges", "triples", "merge_map"):
        assert content_hash(c1, table) == content_hash(c2, table), table


def test_graph_counts_consistent(spark, warehouse, expected_triples):
    cat = P.Catalog(spark, warehouse)
    nodes, edges = cat.nodes(), cat.edges()
    n_by_label = {r.label: r.n for r in nodes.groupBy("label").agg(F.count("*").alias("n")).collect()}
    e_by_label = {r.label: r.n for r in edges.groupBy("label").agg(F.count("*").alias("n")).collect()}
    assert n_by_label[S.META_DATA] == 1
    assert e_by_label[S.NEXT] == n_by_label[S.TURN] - n_by_label[S.CONVERSATION]
    assert e_by_label[S.REF] == n_by_label[S.MENTION]
    assert e_by_label[S.REL] == expected_triples.count()


def test_validator_detects_bad_node_keys(spark, warehouse, tmp_path):
    """Node-key conformance: an ENTITY without full_name and an undeclared
    label are both violations (cpgvalidator key-facts analog)."""
    import shutil

    wh2 = str(tmp_path / "wh_badnodes")
    shutil.copytree(warehouse, wh2)
    cat = P.Catalog(spark, wh2)
    bad_nodes = spark.createDataFrame(
        [
            (111222333444, S.ENTITY, None, None, None, None, None, None, None),
            (111222333445, "BOGUS_LABEL", None, None, None, None, "c0", None, None),
        ],
        "id long, label string, name string, full_name string, code string, "
        "order int, conv_id string, turn_idx int, props map<string,string>",
    )
    cat.commit_overlay(98, "bad_nodes", {"nodes": bad_nodes})
    v = P.validate(cat)
    assert v.where(v.kind == "node_keys").count() == 2


def test_validator_cardinality_violations(spark, transcripts, alias_dict, warehouse, tmp_path):
    """Cardinality facts (CpgValidator ValidationFacts analog): a duplicated
    NEXT successor violates TURN out-NEXT <= 1 and is flagged."""
    import shutil

    wh3 = str(tmp_path / "wh3")
    shutil.copytree(f"{warehouse}", wh3)
    cat = P.Catalog(spark, wh3)
    edges = cat.edges()
    a_next = edges.where(F.col("label") == S.NEXT).limit(1).collect()[0]
    nodes = cat.nodes()
    # give the NEXT src a second successor: another TURN node
    other_turn = (
        nodes.where((F.col("label") == S.TURN) & (F.col("id") != a_next.dst))
        .limit(1)
        .collect()[0]
        .id
    )
    extra = spark.createDataFrame(
        [(a_next.src, other_turn, "NEXT", None)],
        "src long, dst long, label string, props map<string,string>",
    )
    cat.commit_overlay(98, "dup_next", {"edges": extra})
    v = P.validate(cat).where(F.col("kind") == "cardinality_out").collect()
    assert any(r.src == a_next.src and r.edge_label == "NEXT" for r in v)


def test_diff_edge_property_primitives(spark):
    """set_edge_props / remove_edge_property / remove_node_property goldens."""
    from codepropertygraph_spark.plans import diff as D

    edges = spark.createDataFrame(
        [(1, 2, "REL", {"pred": "mentions"}), (2, 3, "REL", {"pred": "asks_about"})],
        "src long, dst long, label string, props map<string,string>",
    )
    upd = spark.createDataFrame(
        [(1, 2, "REL", "weight", "0.9"), (1, 2, "REL", "pred", "refers_to")],
        "src long, dst long, label string, key string, value string",
    )
    got = {
        (r.src, r.dst): dict(r.props)
        for r in D.set_edge_props(edges, upd).collect()
    }
    assert got[(1, 2)] == {"pred": "refers_to", "weight": "0.9"}  # update wins
    assert got[(2, 3)] == {"pred": "asks_about"}  # untouched

    rm = spark.createDataFrame(
        [(1, 2, "REL", "pred")], "src long, dst long, label string, key string"
    )
    got2 = {
        (r.src, r.dst): dict(r.props)
        for r in D.remove_edge_property(D.set_edge_props(edges, upd), rm).collect()
    }
    assert got2[(1, 2)] == {"weight": "0.9"}

    nodes = spark.createDataFrame(
        [(1, "ENTITY", {"a": "1", "b": "2"})],
        "id long, label string, props map<string,string>",
    )
    nrm = spark.createDataFrame([(1, "a")], "id long, key string")
    got3 = dict(D.remove_node_property(nodes, nrm).collect()[0].props)
    assert got3 == {"b": "2"}


def test_compact_preserves_content(spark, warehouse, tmp_path):
    """TrimPass analog: compaction rewrites all overlays into one, with
    identical union content, fewer files, and a still-valid graph."""
    import hashlib
    import os

    cat = P.Catalog(spark, warehouse)
    dest = cat.compact(str(tmp_path / "wh_compact"), files_per_table=2)
    assert dest.overlay_names() == ["compacted"]

    def content_hash(c, table):
        rows = sorted(
            str(sorted(r.asDict().items())) for r in c.read_table(table).collect()
        )
        h = hashlib.sha256()
        for r in rows:
            h.update(r.encode())
        return h.hexdigest()

    def n_files(root, table):
        total = 0
        for dirpath, _, files in os.walk(root):
            if f"/{table}" in dirpath or dirpath.endswith(table):
                total += sum(1 for f in files if f.endswith(".parquet"))
        return total

    for table in ("nodes", "edges", "triples", "merge_map"):
        assert content_hash(cat, table) == content_hash(dest, table), table
    assert n_files(str(tmp_path / "wh_compact"), "nodes") < n_files(warehouse, "nodes")
    assert P.validate(dest).count() == 0


def test_decorate_pass_merge_on_read(spark, warehouse):
    """A8 MethodDecoratorPass analog: derived per-turn properties live in an
    UPDATE overlay and appear merged when reading Catalog.nodes(); the raw
    nodes table on disk is untouched (append-only store)."""
    cat = P.Catalog(spark, warehouse)
    turns = cat.nodes().where(F.col("label") == S.TURN)
    sample = turns.limit(20).collect()
    assert sample
    for r in sample:
        assert int(r.props["n_tokens"]) == len(r.code.split(" "))
        n_preds = sum(t in S.TEXT_PREDICATES for t in r.code.split(" "))
        assert int(r.props["n_preds"]) == n_preds
        assert "role" in r.props  # original props survive the merge
    # raw table unchanged: no n_tokens key in the committed nodes rows
    raw = cat.read_table("nodes").where(F.col("label") == S.TURN).limit(5).collect()
    assert all("n_tokens" not in (r.props or {}) for r in raw)


def test_kgql_console_over_warehouse(spark, warehouse):
    """The interactive query entry point (Console.scala analog) driven end to
    end over a committed warehouse: open, evaluate traversal expressions,
    meta-commands, and error discipline."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import kgql

    g = kgql.build_view_from_warehouse(spark, warehouse)
    n_turns = int(kgql.evaluate(g, 'g.turns().count()'))
    assert n_turns == g.nodes.where("label = 'TURN'").count() > 0
    labels = kgql.evaluate(g, ":labels")
    assert "TURN" in labels and "ENTITY" in labels
    out = kgql.evaluate(
        g, 'g.conversations().out("CONTAINS").filter(F.col("label") == S.MENTION).count()'
    )
    assert int(out) > 0
    # DataFrame rendering caps rows
    shown = kgql.evaluate(g, "g.turns().df.select('id')")
    assert shown.splitlines()[0] == "id" and len(shown.splitlines()) <= kgql.MAX_ROWS + 2
    # help reflects the step docs
    assert "dominated_by" in kgql.evaluate(g, ":help")


def test_full_name_index_prunes_and_matches(spark, warehouse):
    """build_index/lookup (CpgLoader.createIndexes analog): the lookup must
    (a) return exactly the rows a full scan filter returns, and (b) prune at
    the partition level — the physical plan carries a __bucket partition
    filter, and only one of the n_buckets directories is read."""
    cat = P.Catalog(spark, warehouse)
    cat.build_index("full_name", n_buckets=16)
    target = (
        cat.nodes().where(F.col("full_name").isNotNull()).select("full_name").first()
    ).full_name
    got = cat.lookup(target)
    want = cat.nodes().where(F.col("full_name") == target)
    key = lambda df: sorted(
        (r.id, r.label, r.full_name) for r in df.select("id", "label", "full_name").collect()
    )
    assert key(got) == key(want) and len(key(got)) > 0
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__bucket" in plan
    # directory-level pruning: the scan's selected partition count is 1
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "__bucket" in m.group(1)
    # a second lookup for a value absent from the corpus returns nothing
    assert cat.lookup("no_such_full_name_ever").count() == 0


def test_kgql_bundle_roundtrip(spark, warehouse, tmp_path):
    """Console interchange loop: :export writes a bundle from the open
    warehouse; build_view_from_bundle reopens it with identical label
    counts and a working query surface."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import kgql

    g = kgql.build_view_from_warehouse(spark, warehouse)
    bdir = str(tmp_path / "bundle")
    msg = kgql.evaluate(g, f":export {bdir}")
    assert msg.startswith("bundle written to")
    g2 = kgql.build_view_from_bundle(spark, bdir)
    counts = lambda gv: {
        (r.label, r.n) for r in gv.all().group_count("label").collect()
    }
    assert counts(g2) == counts(g)
    assert int(kgql.evaluate(g2, "g.turns().count()")) == int(
        kgql.evaluate(g, "g.turns().count()")
    )
