"""Tests for the training-data-pipeline operators (dedup, similarity,
textstats, multimodal) on tiny handcrafted frames plus the sf0.001 driver
tables where ground truth is computable independently.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from codepropertygraph_spark.operators import dedup, multimodal, similarity, textstats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _mini_docs(spark):
    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g h"),  # exact dup of 1
        (3, "a b c d e f g X"),  # near dup of 1
        (4, "q r s t u v w z"),  # unrelated
        (5, "xy"),  # shorter than shingle width
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark):
    d = dedup.exact_duplicates(_mini_docs(spark))
    groups = {r.text_hash: (r.n_docs, r.keeper) for r in d.collect()}
    dup_group = [v for v in groups.values() if v[0] > 1]
    assert dup_group == [(2, 1)]  # docs 1+2, keeper = min id


def test_minhash_pairs_match_ground_truth(spark, docs):
    """LSH-blocked + verified pairs == exact all-pairs at the threshold
    (recall loss would show as missing pairs; precision loss can't happen
    because candidates are verified exactly)."""
    lsh = {(r.a, r.b, r.jacc) for r in dedup.minhash_pairs(docs, 0.8).collect()}
    exact = {(r.a, r.b, r.jacc) for r in dedup.ngram_jaccard_pairs(docs, 0.8).collect()}
    assert lsh == exact
    assert exact, "corpus should contain planted near-duplicates"


def test_minhash_detects_planted_near_dup(spark):
    pairs = {(r.a, r.b) for r in dedup.minhash_pairs(_mini_docs(spark), 0.5).collect()}
    assert (1, 2) in pairs  # identical
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup
    assert not any(4 in p for p in pairs)


def test_simhash_similar_docs_close(spark):
    s = {r.doc_id: r.simhash for r in dedup.simhash(_mini_docs(spark)).collect()}
    assert s[1] == s[2]  # identical docs → identical signature
    ham_near = bin(s[1] ^ s[3]).count("1")
    ham_far = bin(s[1] ^ s[4]).count("1")
    assert ham_near < ham_far


def test_ann_topk_against_numpy(spark, emb):
    import numpy as np

    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    got = similarity.cosine_topk(emb, query_max_id=3, k=5).collect()
    by_q: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    for q in range(3):
        sims = []
        for vid, v in vecs.items():
            if vid == q:
                continue
            cos = float(v @ vecs[q] / (np.linalg.norm(v) * np.linalg.norm(vecs[q])))
            sims.append((round(cos, 6), -vid))
        expected = [-i for _, i in sorted(sims, reverse=True)[:5]]
        assert by_q[q] == expected


def test_ann_lsh_subset_of_exact_candidates(spark, emb):
    """The LSH variant returns genuine neighbors (correct cosine values),
    just possibly fewer — every returned (query, neighbor, cos) must agree
    with the exact scorer's cosine for that pair."""
    exact_all = {
        (r.query_id, r.neighbor_id): r.cos
        for r in similarity.cosine_topk(emb, query_max_id=10, k=10 ** 6).collect()
    }
    for r in similarity.cosine_topk_lsh(emb, query_max_id=10, k=5).collect():
        assert exact_all[(r.query_id, r.neighbor_id)] == r.cos


def test_token_counts(spark):
    d = {r.doc_id: r for r in textstats.token_counts(_mini_docs(spark)).collect()}
    assert d[1].n_tokens == 8
    assert d[1].n_distinct_tokens == 8
    assert d[5].n_tokens == 1


def test_quality_monotonic_bounds(spark, docs):
    rows = textstats.quality_scores(docs).collect()
    assert all(0 <= r.quality_milli <= 1000 for r in rows)
    assert all(0.0 <= r.stop_ratio <= 1.0 for r in rows)


def test_fingerprint_stable_and_sensitive(spark):
    fps = {r.doc_id: r.fingerprint for r in textstats.fingerprints(_mini_docs(spark)).collect()}
    assert fps[1] == fps[2]  # identical content → identical fingerprint
    assert fps[1] != fps[4]


def test_multimodal_roundtrip(spark, docs):
    payloads = multimodal.to_binary_payloads(docs)
    decoded = multimodal.decode_stub(payloads)
    got = {r.doc_id: r for r in decoded.collect()}
    src = {r.doc_id: r.text for r in docs.collect()}
    for doc_id, text in list(src.items())[:20]:
        r = got[doc_id]
        assert r.n_bytes == len(text.encode())
        assert r.content_hash == hashlib.md5(text.encode()).hexdigest()
        assert 16 <= r.width < 256 and 16 <= r.height < 256


def test_frame_sample(spark, docs):
    payloads = multimodal.to_binary_payloads(docs.limit(10))
    decoded = multimodal.decode_stub(payloads)
    frames = multimodal.frame_sample(decoded, every=2)
    n = {r.doc_id: r.n_frames for r in decoded.collect()}
    cnt = {
        r["doc_id"]: r["cnt"]
        for r in frames.groupBy("doc_id").agg(F.count("*").alias("cnt")).collect()
    }
    for doc_id, nf in n.items():
        assert cnt[doc_id] == (nf + 1) // 2


def test_extraction_udf_parity(spark, transcripts):
    """The pandas-UDF extractor variants must equal the JVM path exactly
    (the north-star's vectorized-UDF pass, cross-checked)."""
    from codepropertygraph_spark.operators import extraction, extraction_udf

    cols = ["conv_id", "turn_idx", "pos", "subj_surface", "pred", "obj_surface"]
    jvm = {tuple(r) for r in extraction.raw_triples(transcripts).select(*cols).collect()}
    arrow = {
        tuple(r)
        for r in extraction_udf.raw_triples_map_in_arrow(transcripts).select(*cols).collect()
    }
    grouped = {
        tuple(r)
        for r in extraction_udf.raw_triples_grouped(transcripts).select(*cols).collect()
    }
    assert jvm == arrow == grouped


def test_scored_link_pandas_parity(spark, transcripts, alias_dict):
    """Batched-UDF scorer must equal the JVM broadcast-join linker exactly
    (same max-prior / min-name dispatch)."""
    from codepropertygraph_spark.operators import extraction, linking, linking_udf

    m = extraction.mention_surfaces(transcripts, alias_dict)
    cols = ["conv_id", "turn_idx", "pos", "surface", "canonical"]
    jvm = {
        tuple(r)
        for r in linking.link_surfaces(m, alias_dict, "surface", "canonical")
        .select(*cols)
        .collect()
    }
    udf = {
        tuple(r)
        for r in linking_udf.scored_link_pandas(m, alias_dict, "surface", "canonical")
        .select(*cols)
        .collect()
    }
    assert udf == jvm


def test_scored_link_pandas_custom_scorer(spark, alias_dict):
    """Custom score_fn plugs in (here: min prior instead of max)."""
    from codepropertygraph_spark.operators import linking_udf

    df = spark.createDataFrame([("amb_0",), ("nope_x",)], "surface string")
    out = {
        r.surface: r.canonical
        for r in linking_udf.scored_link_pandas(
            df,
            alias_dict,
            "surface",
            "canonical",
            score_fn=lambda s, cands: min(cands, key=lambda c: (c[1], c[0]))[0],
        ).collect()
    }
    assert out["nope_x"] == "external:nope_x"
    # amb_0 maps to two entities with priors .9/.3 — min-prior picks the .3 one
    lo = [r.canonical_name for r in alias_dict.where("alias='amb_0'").orderBy("prior").collect()][0]
    assert out["amb_0"] == lo


def _planted_embeddings(spark, n_base=150, dim=64, noise=0.18, seed=7):
    """Deterministic corpus with planted HIGH-cosine near-dup pairs: base
    vector i and its twin i+n_base differ by small noise (cos ≈ 0.95+),
    the regime sign-bit LSH is designed for."""
    import numpy as np

    rng = np.random.default_rng(seed)
    base = rng.normal(size=(n_base, dim))
    twins = base + noise * rng.normal(size=(n_base, dim))
    vecs = [(i, [float(x) for x in base[i]]) for i in range(n_base)] + [
        (i + n_base, [float(x) for x in twins[i]]) for i in range(n_base)
    ]
    return spark.createDataFrame(vecs, "vec_id long, embedding array<float>")


def test_embedding_near_dup_bucketed_recall(spark, emb):
    """Measured recall of the bucketed (LSH + hamming-1) near-dup operator.

    Two regimes, both asserted:
    - designed regime (planted cos≈0.95 twins): recall ≥ 0.9 — multi-probe
      sign-LSH works where the angle is small;
    - wide-angle regime (the driver corpus's planted pairs sit at cos
      0.45-0.52, barely above random): recall is structurally low (the
      per-plane collision signal is 0.66 vs 0.50 noise) — we assert the
      operator still finds only true pairs (precision 1.0 vs exact) and
      document the measured recall rather than pretending sub-quadratic
      blocking is free at 63 degrees.
    """
    planted = _planted_embeddings(spark)
    exact_hi = {
        (r.a, r.b)
        for r in dedup.embedding_near_dup_pairs_exact(planted, threshold=0.9).collect()
    }
    bucketed_hi = {
        (r.a, r.b)
        for r in dedup.embedding_near_dup_pairs(planted, threshold=0.9).collect()
    }
    assert len(exact_hi) >= 100  # the planted twins are really there
    assert bucketed_hi <= exact_hi  # exact verify inside buckets → precision 1
    recall_hi = len(bucketed_hi & exact_hi) / len(exact_hi)
    assert recall_hi >= 0.85, f"high-cos recall {recall_hi:.3f}"  # measured 0.893

    # wide-angle regime on the driver corpus (sf0.01 embeddings: 14 exact
    # pairs at cos 0.45-0.52; measured bucketed recall 3/14 ≈ 0.21 — the
    # structural bound P(hamming<=1 | cos=.45, 8 planes) ≈ 0.17)
    emb01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact_lo = {
        (r.a, r.b)
        for r in dedup.embedding_near_dup_pairs_exact(emb01, threshold=0.45).collect()
    }
    bucketed_lo = {
        (r.a, r.b)
        for r in dedup.embedding_near_dup_pairs(emb01, threshold=0.45).collect()
    }
    assert bucketed_lo <= exact_lo  # never a false pair (precision 1.0)
    recall_lo = len(bucketed_lo) / len(exact_lo)
    assert recall_lo >= 0.1, f"wide-angle recall collapsed: {recall_lo:.3f}"


def test_ann_lsh_recall_floor(spark, emb):
    """Multi-probe (hamming-1) recall@5 vs the exact scorer, on the driver
    embeddings AND on planted high-cos data. Hamming-1 probing must beat
    bucket-only probing."""
    def recall(df_exact, df_lsh):
        ex = {(r.query_id, r.neighbor_id) for r in df_exact.collect()}
        got = {(r.query_id, r.neighbor_id) for r in df_lsh.collect()}
        return len(ex & got) / len(ex)

    r1 = recall(
        similarity.cosine_topk(emb, query_max_id=10, k=5),
        similarity.cosine_topk_lsh(emb, query_max_id=10, k=5, hamming=1),
    )
    r0 = recall(
        similarity.cosine_topk(emb, query_max_id=10, k=5),
        similarity.cosine_topk_lsh(emb, query_max_id=10, k=5, hamming=0),
    )
    assert r1 >= r0  # multi-probe never hurts
    # the driver corpus's "nearest" neighbors are near-orthogonal
    # (cos ~0.3-0.4, ~70deg): sign-LSH has little signal there, so the
    # honest floor is low; measured 0.08 (h1) vs 0.04 (h0) at sf0.001
    assert r1 >= 0.05, f"recall@5 with hamming-1 probing: {r1:.3f}"

    planted = _planted_embeddings(spark)
    rp = recall(
        similarity.cosine_topk(planted, query_max_id=10, k=1),
        similarity.cosine_topk_lsh(planted, query_max_id=10, k=1, hamming=1),
    )
    assert rp >= 0.9, f"high-cos top-1 recall: {rp:.3f}"  # measured 0.90 (h0: 0.70)


def test_json_tree_golden(spark):
    """Generic deep-JSON walk: every JSON kind, empty containers, depth."""
    from codepropertygraph_spark.sources import json_ingest

    doc = '{"a":{"b":[3,"x",true,null]},"c":"s","e":{},"f":[]}'
    rows = {
        (r.path, r.kind, r.value, r.n_children, r.depth, r.parent_path)
        for r in json_ingest.json_tree_arrow(
            spark.createDataFrame([(1, doc)], "ast_id long, ast string"),
            "ast_id",
            "ast",
        ).collect()
    }
    assert ("$", "object", None, 4, 0, None) in rows
    assert ("$.a", "object", None, 1, 1, "$") in rows
    assert ("$.a.b", "array", None, 4, 2, "$.a") in rows
    assert ("$.a.b[0]", "number", "3", 0, 3, "$.a.b") in rows
    assert ("$.a.b[1]", "string", "x", 0, 3, "$.a.b") in rows
    assert ("$.a.b[2]", "boolean", "true", 0, 3, "$.a.b") in rows
    assert ("$.a.b[3]", "null", None, 0, 3, "$.a.b") in rows
    assert ("$.c", "string", "s", 0, 1, "$") in rows
    assert ("$.e", "object", None, 0, 1, "$") in rows
    assert ("$.f", "array", None, 0, 1, "$") in rows
    assert len(rows) == 10

    # parent_id arithmetic: every non-root node's parent_id is an existing node_id
    df = json_ingest.json_tree_arrow(
        spark.createDataFrame([(7, doc)], "ast_id long, ast string"), "ast_id", "ast"
    )
    ids = {r.node_id for r in df.collect()}
    parents = {r.parent_id for r in df.where(F.col("parent_id").isNotNull()).collect()}
    assert parents <= ids

    # depth is unbounded: a 4-deep document walks to its leaf
    deep = json_ingest.json_tree_arrow(
        spark.createDataFrame(
            [(1, '{"a": {"b": {"c": {"d": 1}}}}')], "ast_id long, ast string"
        ),
        "ast_id",
        "ast",
    )
    assert {(r.path, r.kind, r.value, r.depth) for r in deep.collect()} == {
        ("$", "object", None, 0),
        ("$.a", "object", None, 1),
        ("$.a.b", "object", None, 2),
        ("$.a.b.c", "object", None, 3),
        ("$.a.b.c.d", "number", "1", 4),
    }


def test_json_tree_matches_generator(spark):
    """The walked tree of a generated turn's AST-JSON reproduces the clause
    structure the extraction pipeline sees (A3 <-> A2 consistency)."""
    from codepropertygraph_spark import testdata as td
    from codepropertygraph_spark.sources import json_ingest

    d = td.ensure_generated("sf0.001")
    aj = spark.read.parquet(f"{d}/ast_json.parquet").limit(50)
    tree = json_ingest.json_tree_arrow(aj, "ast_id", "ast")
    n_clause_objs = (
        tree.where(F.col("path").rlike(r"^\$\.clauses\[\d+\]$")).count()
    )
    import json as _json

    expected = sum(
        len(_json.loads(r.ast)["clauses"]) for r in aj.collect()
    )
    assert n_clause_objs == expected


def test_resize_plan_golden(spark):
    from codepropertygraph_spark.operators import multimodal

    decoded = spark.createDataFrame(
        [(1, 256, 128), (2, 32, 16), (3, 64, 64), (4, 1000, 10)],
        "doc_id long, width int, height int",
    )
    got = {r.doc_id: r for r in multimodal.resize_plan(decoded, 64, 64).collect()}
    assert (got[1].out_w, got[1].out_h, got[1].noop) == (64, 32, False)
    assert (got[2].out_w, got[2].out_h, got[2].noop) == (32, 16, True)  # already fits
    assert (got[3].out_w, got[3].out_h) == (64, 64)
    assert (got[4].out_w, got[4].out_h) == (64, 1)  # floor clamped to >= 1


def test_feature_extract_feeds_similarity(spark, docs):
    """The feature-extraction stub's output contract (array<float>) plugs
    straight into the similarity operators."""
    from codepropertygraph_spark.operators import multimodal

    payloads = multimodal.to_binary_payloads(docs.limit(50))
    feats = multimodal.feature_extract_stub(payloads).withColumnRenamed(
        "doc_id", "vec_id"
    ).withColumnRenamed("feature", "embedding")
    topk = similarity.cosine_topk(feats, query_max_id=3, k=2).collect()
    assert len(topk) == 6
    assert all(-1.0 <= r.cos <= 1.0 for r in topk)
    # determinism: same payload -> same feature
    f2 = multimodal.feature_extract_stub(payloads)
    a = {(r.doc_id, tuple(r.feature)) for r in feats.selectExpr("vec_id as doc_id", "embedding as feature").collect()}
    b = {(r.doc_id, tuple(r.feature)) for r in f2.collect()}
    assert a == b


def test_near_dup_clusters(spark):
    from codepropertygraph_spark.operators import dedup

    got = {
        r.doc_id: r.cluster_rep
        for r in dedup.near_dup_clusters(_mini_docs(spark), threshold=0.5).collect()
    }
    assert got[1] == got[2] == got[3] == 1  # exact + near dups cluster to min id
    assert got[4] == 4 and got[5] == 5  # singletons map to themselves


def test_ann_ivf_recall_floor(spark, emb):
    """IVF recall@5 vs the exact scorer: probing 4 of 16 lists must beat
    probing 1 (more lists never hurt), and probing ALL 16 lists must equal
    the exact result (the quantizer partitions the corpus, so full probing
    is exhaustive search). A planted high-cos corpus checks the designed
    regime: a query's twin concentrates into the probed lists."""
    def recall(df_exact, df_ivf):
        ex = {(r.query_id, r.neighbor_id) for r in df_exact.collect()}
        got = {(r.query_id, r.neighbor_id) for r in df_ivf.collect()}
        return len(ex & got) / len(ex)

    exact = similarity.cosine_topk(emb, query_max_id=10, k=5)
    r4 = recall(exact, similarity.cosine_topk_ivf(emb, 10, 5, 16, n_probe=4))
    r1 = recall(exact, similarity.cosine_topk_ivf(emb, 10, 5, 16, n_probe=1))
    r16 = recall(exact, similarity.cosine_topk_ivf(emb, 10, 5, 16, n_probe=16))
    assert r4 >= r1
    assert r16 == 1.0, f"full probing must be exhaustive, got {r16:.3f}"

    planted = _planted_embeddings(spark)
    rp = recall(
        similarity.cosine_topk(planted, query_max_id=10, k=1),
        similarity.cosine_topk_ivf(planted, 10, 1, 16, n_probe=4),
    )
    assert rp >= 0.8, f"planted-twin recall@1 with 4/16 probes: {rp:.3f}"


def test_ann_ivf_kmeans_refinement_recall(spark):
    """r4 VERDICT #9: the Lloyd-refined quantizer (ivf_centroids_kmeans,
    deterministic md5-seeded init + driver-side spherical k-means over an
    md5-selected sample) must reach recall >= the md5-seeding-only baseline
    where cluster structure exists — the planted-twin corpus is the designed
    regime (uniform-random corpora have no clusters for Lloyd to find, so
    the seam's default stays the oracle-expressible md5 quantizer)."""
    def recall(df_exact, df_ivf):
        ex = {(r.query_id, r.neighbor_id) for r in df_exact.collect()}
        got = {(r.query_id, r.neighbor_id) for r in df_ivf.collect()}
        return len(ex & got) / len(ex)

    planted = _planted_embeddings(spark)
    exact = similarity.cosine_topk(planted, query_max_id=10, k=5)
    base = recall(exact, similarity.cosine_topk_ivf(planted, 10, 5, 16, n_probe=4))
    refined = recall(
        exact,
        similarity.cosine_topk_ivf(planted, 10, 5, 16, n_probe=4, refine_iters=5),
    )
    assert refined >= base, f"refined {refined:.3f} < md5 baseline {base:.3f}"
    assert refined >= 0.8, f"refined recall@5: {refined:.3f}"  # measured 0.82

    # the fit is deterministic: identical output across runs
    a = sorted(
        map(tuple, similarity.cosine_topk_ivf(planted, 10, 5, 16, 4, refine_iters=5).collect())
    )
    b = sorted(
        map(tuple, similarity.cosine_topk_ivf(planted, 10, 5, 16, 4, refine_iters=5).collect())
    )
    assert a == b


def test_kmv_sketch_merge_and_estimate(spark):
    """KMV properties: (1) MERGE of two split-corpus sketches equals the
    whole-corpus sketch row-for-row — the rollup contract; (2) the
    estimate is exact below saturation and within 35% relative error at
    saturation (k=32 gives ~1/sqrt(30) ≈ 18% expected error)."""
    from codepropertygraph_spark.operators import sketches

    rows = [("g1", f"user{i % 500}") for i in range(3000)] + [
        ("g2", f"u{i}") for i in range(10)
    ]
    df = spark.createDataFrame(rows, "grp string, uid string")
    k = 32
    whole = sketches.kmv_sketch(df, ["grp"], "uid", k=k)
    h1 = df.where(F.crc32(F.col("uid")) % 2 == 0)
    h2 = df.where(F.crc32(F.col("uid")) % 2 == 1)
    merged = sketches.kmv_merge(
        sketches.kmv_sketch(h1, ["grp"], "uid", k=k),
        sketches.kmv_sketch(h2, ["grp"], "uid", k=k),
        ["grp"],
        k=k,
    )
    as_map = lambda d: {
        r.grp: (tuple(r.sketch), r.n_le_k, r.kth) for r in d.collect()
    }
    assert as_map(merged) == as_map(whole)
    est = {
        r.grp: sketches.kmv_estimate(r.n_le_k, r.kth, k=k)
        for r in whole.collect()
    }
    assert est["g2"] == 10.0                      # unsaturated → exact
    assert abs(est["g1"] - 500) / 500 < 0.35      # saturated → bounded error


def test_quantile_sketch_merge_and_error_bound(spark):
    """Quantile-sketch properties: (1) MERGE of two split sketches is
    bit-identical to the whole-data sketch (the order-free bottom-s-by-hash
    design — the KLL tradeoff note in sketches.py); (2) the nearest-rank
    estimate from an s=256 sample of U[0, 10000) lands within ~3/sqrt(s) of
    the true quantile; (3) a group smaller than s is sampled whole, so its
    median is EXACT."""
    from codepropertygraph_spark.operators import sketches

    rows = [("g1", i, (i * 7919) % 10000) for i in range(5000)] + [
        ("g2", 100000 + i, i) for i in range(21)
    ]
    df = spark.createDataFrame(rows, "grp string, rid long, v long")
    s = 256
    whole = sketches.quantile_sketch(df, ["grp"], "v", row_key=["rid"], s=s)
    h1 = df.where(F.col("rid") % 2 == 0)
    h2 = df.where(F.col("rid") % 2 == 1)
    merged = sketches.quantile_merge(
        sketches.quantile_sketch(h1, ["grp"], "v", row_key=["rid"], s=s),
        sketches.quantile_sketch(h2, ["grp"], "v", row_key=["rid"], s=s),
        ["grp"],
        s=s,
    )
    as_map = lambda d: {
        r.grp: (tuple((x.h, x.v) for x in r.qsketch), r.n_rows) for r in d.collect()
    }
    assert as_map(merged) == as_map(whole)
    q = whole.select(
        "grp",
        sketches.quantile_value(F.col("qsketch"), 0.5).alias("p50"),
        sketches.quantile_value(F.col("qsketch"), 0.9).alias("p90"),
    )
    got = {r.grp: (r.p50, r.p90) for r in q.collect()}
    # g1: v is a permutation of 0..9999 restricted to 5000 rows — true
    # quantiles of the multiset computed exactly for comparison
    vals = sorted((i * 7919) % 10000 for i in range(5000))
    true50 = vals[int(0.5 * (len(vals) - 1))]
    true90 = vals[int(0.9 * (len(vals) - 1))]
    tol = 3 / (s ** 0.5) * 10000  # ~187 + value-span slack
    assert abs(got["g1"][0] - true50) < tol
    assert abs(got["g1"][1] - true90) < tol
    # g2: 21 rows < s — the sample IS the data, median exact
    assert got["g2"][0] == 10


def test_cms_sketch_merge_and_bounds(spark):
    """Count-Min properties: (1) MERGE of two split-corpus sketches is
    bit-identical to the whole-corpus sketch (pure counter sums — the
    order-free design the space-saving family can't give); (2) est >= true
    for EVERY key (one-sided guarantee); (3) the heavy key's estimate is
    exact-or-near (collisions only add); (4) total overestimate over all
    keys is bounded by d * n_rows (each row lands once per depth)."""
    from codepropertygraph_spark.operators import sketches

    rows = [("g1", f"user{i % 50}") for i in range(2000)] + [
        ("g1", "whale")
    ] * 500 + [("g2", f"u{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "grp string, uid string")
    d, w = 4, 64
    whole = sketches.cms_sketch(df, ["grp"], "uid", d=d, w=w)
    h1 = df.where(F.crc32(F.col("uid")) % 2 == 0)
    h2 = df.where(F.crc32(F.col("uid")) % 2 == 1)
    merged = sketches.cms_merge(
        sketches.cms_sketch(h1, ["grp"], "uid", d=d, w=w),
        sketches.cms_sketch(h2, ["grp"], "uid", d=d, w=w),
        ["grp"],
    )
    as_map = lambda t: {r.grp: (tuple(r.cms), r.n_rows) for r in t.collect()}
    assert as_map(merged) == as_map(whole)

    exact = df.groupBy("grp", "uid").count()
    est = exact.join(whole, "grp").select(
        "grp", "uid", "count",
        sketches.cms_estimate(F.col("cms"), "uid", d=d, w=w).alias("est"),
    )
    got = est.collect()
    assert all(r.est >= r["count"] for r in got)          # one-sided
    whale = next(r for r in got if r.uid == "whale")
    assert whale.est - whale["count"] <= 2500 * 2.72 / w  # eps*N envelope
    # matrix mass: every depth row sums to exactly n_rows
    for r in whole.collect():
        for j in range(d):
            assert sum(r.cms[j * w : (j + 1) * w]) == r.n_rows


def test_hash_split_invariants(spark):
    """hash_split: total coverage (every row gets exactly one split),
    membership invariant under repartitioning (the randomSplit failure
    mode), same-key co-assignment, and fractions realized within binomial
    tolerance. stratified_sample: membership stability + rate bound.
    bottom_k: merge property (union of group reservoirs == reservoir of
    the union)."""
    from codepropertygraph_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(3000)], "k long, g string"
    )
    fr = {"train": 0.7, "val": 0.2, "test": 0.1}
    s1 = sampling.hash_split(df.repartition(1), ["k"], fr)
    s8 = sampling.hash_split(df.repartition(8), ["k"], fr)
    m1 = {r.k: r.split for r in s1.collect()}
    m8 = {r.k: r.split for r in s8.collect()}
    assert m1 == m8                      # partitioning-independent
    assert len(m1) == 3000               # total, exactly once
    counts = {s: list(m1.values()).count(s) for s in fr}
    for s, f in fr.items():              # ~4 sigma binomial tolerance
        sigma = (3000 * f * (1 - f)) ** 0.5
        assert abs(counts[s] - 3000 * f) < 4 * sigma + 1, (s, counts)

    # duplicate keys co-assign (document shards travel together)
    dup = spark.createDataFrame([(7, "a"), (7, "b")], "k long, part string")
    got = {r.split for r in sampling.hash_split(dup, ["k"], fr).collect()}
    assert len(got) == 1

    samp1 = sampling.stratified_sample(df.repartition(1), ["g"], 0.25, ["k"])
    samp8 = sampling.stratified_sample(df.repartition(8), ["g"], 0.25, ["k"])
    assert {r.k for r in samp1.collect()} == {r.k for r in samp8.collect()}
    per_g = {r.g: r.n for r in samp1.groupBy("g").agg(F.count("*").alias("n")).collect()}
    for g, n in per_g.items():
        sigma = (1000 * 0.25 * 0.75) ** 0.5
        assert abs(n - 250) < 4 * sigma + 1, (g, n)

    # bottom_k merge: reservoir of the union == k smallest of the
    # concatenated per-half reservoirs
    whole = sampling.bottom_k(df, ["g"], 20, ["k"])
    h1 = sampling.bottom_k(df.where(F.col("k") % 2 == 0), ["g"], 20, ["k"])
    h2 = sampling.bottom_k(df.where(F.col("k") % 2 == 1), ["g"], 20, ["k"])
    from pyspark.sql import Window as W
    merged = (
        h1.unionByName(h2)
        .withColumn("__rk", F.row_number().over(
            W.partitionBy("g").orderBy("sample_hash")))
        .where(F.col("__rk") <= 20).drop("__rk")
    )
    key = lambda d: {(r.g, r.k) for r in d.collect()}
    assert key(merged) == key(whole)

    import pytest as _pt
    with _pt.raises(ValueError, match="sum to"):
        sampling.hash_split(df, ["k"], {"a": 0.9, "b": 0.2})
    with _pt.raises(ValueError, match="positive"):
        sampling.hash_split(df, ["k"], {"a": 0.9, "b": -0.1})


def test_gapfill_linear_and_modes(spark):
    """gapfill_time_buckets goldens on an exact fixture: hours 0,3,4 are
    observed (sums 100, 400, 700); hours 1-2 are materialized gaps.
    linear: interp 200/300; locf: carry 100; zero: 0. Endpoint behavior:
    before-first carries backward (linear), after-last carries forward."""
    from datetime import datetime

    from codepropertygraph_spark.operators import relational

    rows = [
        ("u", datetime(2024, 1, 1, 0, 30), 100),
        ("u", datetime(2024, 1, 1, 3, 10), 150),
        ("u", datetime(2024, 1, 1, 3, 40), 250),
        ("u", datetime(2024, 1, 1, 4, 5), 700),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v long")

    def got(fill):
        out = relational.gapfill_time_buckets(df, ["k"], "ts", "v", "hour", fill)
        return {
            r.bucket_ts.hour: (r.n_events, r.value_sum, r.filled, r.is_gap)
            for r in out.collect()
        }

    lin = got("linear")
    assert lin[0] == (1, 100, 100, False)
    assert lin[1] == (0, None, 200.0, True)   # 100 + (400-100)*1/3
    assert lin[2] == (0, None, 300.0, True)
    assert lin[3] == (2, 400, 400, False)
    assert lin[4] == (1, 700, 700, False)

    locf = got("locf")
    assert locf[1] == (0, None, 100, True) and locf[2] == (0, None, 100, True)
    zero = got("zero")
    assert zero[1] == (0, None, 0, True)

    import pytest as _pt
    with _pt.raises(ValueError, match="unknown fill"):
        relational.gapfill_time_buckets(df, ["k"], "ts", "v", "hour", "nope")


def test_mask_pii_goldens(spark):
    """Crafted-string behavior of the PII scrub: each kind masks to its
    placeholder, counts audit per kind, clean text passes through, and the
    sequential chain composes (email inside a sentence with a phone)."""
    from codepropertygraph_spark.operators import textstats

    rows = [
        (1, "contact bob.smith+x@corp-mail.co.uk today"),
        (2, "server at 192.168.1.250 port 80"),
        (3, "card 4111 1111 1111 1111 expires"),
        (4, "call +1 555-123-4567 or 020 7946 0958 now"),
        (5, "mail a@b.io, then dial 555-867-5309."),
        (6, "no pii here, just words and 42"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in textstats.mask_pii(df).collect()}

    assert out[1].masked_text == "contact <EMAIL> today"
    assert out[1].n_email == 1
    assert out[2].masked_text == "server at <IP> port 80"
    assert out[2].n_ipv4 == 1
    assert out[3].masked_text == "card <CARD> expires"
    assert out[3].n_card == 1
    assert out[4].n_phone == 2
    assert out[4].masked_text == "call <PHONE> or <PHONE> now"
    assert out[5].masked_text == "mail <EMAIL>, then dial <PHONE>."
    assert out[5].n_email == 1 and out[5].n_phone == 1
    assert out[6].masked_text == rows[5][1]
    assert (out[6].n_email, out[6].n_ipv4, out[6].n_card, out[6].n_phone) == (0, 0, 0, 0)


def test_cms_sketch_null_values_excluded(spark):
    """Regression (ADVICE r4): NULLs in the sketched column must not feed a
    NULL bucket into the d*w map layout (job failure / silent corruption).
    They are excluded from counters AND n_rows — SQL aggregate semantics —
    so a corpus with NULLs sketches identically to the same corpus with the
    NULL rows dropped."""
    from codepropertygraph_spark.operators import sketches

    rows = [("g1", "a"), ("g1", None), ("g1", "b"), ("g1", None), ("g2", None)]
    df = spark.createDataFrame(rows, "grp string, uid string")
    got = sketches.cms_sketch(df, ["grp"], "uid", d=2, w=8)
    clean = sketches.cms_sketch(df.where(F.col("uid").isNotNull()), ["grp"], "uid", d=2, w=8)
    as_map = lambda t: {r.grp: (tuple(r.cms), r.n_rows) for r in t.collect()}
    assert as_map(got) == as_map(clean)
    # the all-NULL group vanishes entirely (no countable values)
    assert set(as_map(got)) == {"g1"}
    assert as_map(got)["g1"][1] == 2


def test_repetition_stats_goldens(spark):
    from codepropertygraph_spark.operators import textstats

    docs = spark.createDataFrame(
        [
            (1, "a a a a b"),          # top token 4/5 > 0.2 -> repetitive
            (2, "x y x y x y"),        # dup bigrams 3/5 > 0.5 -> repetitive
            (3, "one two three four five six"),  # diverse -> clean
            (4, "solo"),               # 1-token doc: top fraction is 1 by
                                       # definition -> flagged (Gopher
                                       # applies a min-length gate upstream)
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.asDict() for r in textstats.repetition_stats(docs).collect()}
    assert got[1]["top_token_count"] == 4 and got[1]["repetitive"]
    assert (got[2]["n_bigrams"], got[2]["n_distinct_bigrams"]) == (5, 2)
    assert got[2]["repetitive"]
    assert not got[3]["repetitive"]
    assert got[4]["n_bigrams"] == 0 and got[4]["repetitive"]


def test_mixture_sample(spark):
    """mixture_sample: rate-1.0 sources keep everything, rate-0 / absent
    sources drop everything, fractional rates land within binomial
    tolerance, and membership is invariant under repartitioning (the
    df.sample failure mode the module exists to avoid)."""
    from codepropertygraph_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, f"s{i % 4}") for i in range(4000)], "k long, source string"
    )
    rates = {"s0": 1.0, "s1": 0.5, "s2": 0.0}
    m1 = sampling.mixture_sample(df.repartition(1), rates, ["k"])
    m8 = sampling.mixture_sample(df.repartition(8), rates, ["k"])
    k1 = {r.k for r in m1.collect()}
    assert k1 == {r.k for r in m8.collect()}     # partitioning-independent
    per = {r.source: r.n for r in
           m1.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per["s0"] == 1000                      # rate 1.0 keeps all
    assert "s2" not in per and "s3" not in per    # rate 0 / absent dropped
    sigma = (1000 * 0.5 * 0.5) ** 0.5
    assert abs(per["s1"] - 500) < 4 * sigma + 1, per

    import pytest as _pt
    with _pt.raises(ValueError, match="must be in"):
        sampling.mixture_sample(df, {"s0": 1.5}, ["k"])


def test_decontaminate(spark):
    """decontaminate: a corpus doc sharing shingles with the benchmark is
    flagged with the exact shared-distinct-shingle count; disjoint docs
    report 0 / false; short docs fall back to token shingles; every corpus
    doc appears exactly once in the output (left-join totality)."""
    from codepropertygraph_spark.operators import dedup

    bench = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "hello world again")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps high"),  # shares 3 shingles
            (11, "completely different words entirely here"),
            (12, "hello world"),  # short: token shingles; both in bench toks?
            (13, "the quick brown fox jumps"),  # exact dup of bench doc 1
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in dedup.decontaminate(corpus, bench).collect()}
    assert set(got) == {10, 11, 12, 13}
    # doc 10: shingles of bench doc 1 = {t q b, q b f, b f j}; doc 10 adds
    # 'f j h' — shares exactly the first 3
    assert got[10].n_shared_shingles == 3 and got[10].contaminated
    assert got[11].n_shared_shingles == 0 and not got[11].contaminated
    # doc 12 is 2 tokens -> token shingles {'hello','world'}; bench doc 2
    # has 3-gram shingle 'hello world again' only -> no overlap
    assert got[12].n_shared_shingles == 0 and not got[12].contaminated
    assert got[13].n_shared_shingles == 3 and got[13].contaminated


def test_pack_sequences(spark):
    """pack_sequences: shard streams are contiguous (each doc starts where
    the previous ended — no gaps, no overlaps), window indices agree with
    the offsets, and the layout is invariant under repartitioning."""
    from codepropertygraph_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, " ".join(["w"] * (1 + i % 37))) for i in range(300)],
        "doc_id long, text string",
    )
    p1 = sampling.pack_sequences(df.repartition(1), 64, ["doc_id"], n_shards=4)
    p8 = sampling.pack_sequences(df.repartition(8), 64, ["doc_id"], n_shards=4)
    rows = sorted(
        p1.select("doc_id", "shard", "n_tokens", "start_tok",
                  "seq_first", "seq_last").collect()
    )
    assert rows == sorted(
        p8.select("doc_id", "shard", "n_tokens", "start_tok",
                  "seq_first", "seq_last").collect()
    )
    assert len(rows) == 300
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r.start_tok)
        pos = 0
        for r in rs:
            assert r.start_tok == pos, (shard, r)          # contiguous
            assert r.seq_first == r.start_tok // 64
            assert r.seq_last == (r.start_tok + r.n_tokens - 1) // 64
            assert r.seq_last >= r.seq_first
            pos += r.n_tokens

    import pytest as _pt
    with _pt.raises(ValueError, match="capacity"):
        sampling.pack_sequences(df, 0, ["doc_id"])


def test_unigram_logprob(spark):
    """unigram_logprob equals a hand-rolled Python unigram LM with the
    same round-then-integer-sum discipline, and is invariant under
    repartitioning."""
    import math
    from collections import Counter

    from codepropertygraph_spark.operators import textstats

    texts = {1: "a b a c", 2: "a a a", 3: "b c d d"}
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {r.doc_id: r for r in textstats.unigram_logprob(df).collect()}
    got8 = {
        r.doc_id: r
        for r in textstats.unigram_logprob(df.repartition(8)).collect()
    }
    vocab = Counter(t for s in texts.values() for t in s.split(" "))
    total = sum(vocab.values())
    # round half away from zero, matching Spark/DuckDB round()
    lp = {
        t: int(
            math.copysign(
                math.floor(abs(math.log(c / total) * 1e6) + 0.5),
                math.log(c / total),
            )
        )
        for t, c in vocab.items()
    }
    for d, s in texts.items():
        toks = s.split(" ")
        want_sum = sum(lp[t] for t in toks)
        assert got[d].n_tokens == len(toks)
        assert got[d].sum_lp_micro == want_sum, (d, got[d], want_sum)
        q, n = want_sum, len(toks)
        want_mean = -((-q) // n) if q < 0 else q // n  # trunc toward zero
        assert got[d].mean_lp_micro == want_mean
        assert got8[d] == got[d]


def test_jaccard_prefix_equals_all_pairs(spark):
    """The prefix-filtered exact Jaccard join returns byte-identical pairs
    to the all-pairs ground truth at several thresholds (the filter's
    completeness guarantee), including boundary-similarity pairs."""
    from codepropertygraph_spark.operators import dedup

    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    docs = [
        (1, base),
        (2, base),                                   # exact dup
        (3, base.replace("w9", "x9")),               # near dup
        (4, base.replace("w8 w9", "x8 x9")),         # farther
        (5, "a b c d e f g h i j"),                  # disjoint
        (6, "a b c"),                                # short doc
        (7, "a b c"),                                # short dup
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for t in (0.5, 0.8, 0.95):
        want = sorted(
            map(tuple, dedup.ngram_jaccard_pairs(df, t).collect())
        )
        got = sorted(
            map(tuple, dedup.jaccard_prefix_pairs(df, t).collect())
        )
        assert got == want, (t, got, want)
    # sanity: the fixture actually exercises matches at every threshold
    assert len(dedup.ngram_jaccard_pairs(df, 0.5).collect()) > 2


def test_duplicate_spans_golden(spark):
    """duplicate_spans on a crafted corpus: a repeated k-window shared by
    two docs marks exactly its tokens in both; overlapping duplicated
    windows merge into one maximal run; short docs and unique docs report
    zero; within-doc repetition also counts."""
    from codepropertygraph_spark.operators import dedup

    shared = "s1 s2 s3 s4 s5"                       # one exact 5-window
    rows = [
        (1, f"u1a u1b {shared} u1c u1d"),           # window at pos 3..7
        (2, f"{shared} u2a u2b u2c u2d u2e"),       # window at pos 1..5
        # doc 3: 6-token run shared with doc 4 -> two overlapping windows
        (3, "r1 r2 r3 r4 r5 r6 z1 z2"),
        (4, "y1 y2 r1 r2 r3 r4 r5 r6"),
        (5, "only unique tokens here nothing repeated"),
        (6, "tiny doc"),                            # < k tokens
        # doc 7: internal repetition of a 5-window
        (7, "p1 p2 p3 p4 p5 mid p1 p2 p3 p4 p5"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup.duplicate_spans(df, k=5).collect()}
    assert (got[1].n_dup_tokens, got[1].n_spans) == (5, 1)
    assert (got[2].n_dup_tokens, got[2].n_spans) == (5, 1)
    assert (got[3].n_dup_tokens, got[3].n_spans) == (6, 1)  # merged run
    assert (got[4].n_dup_tokens, got[4].n_spans) == (6, 1)
    assert (got[5].n_dup_tokens, got[5].n_spans) == (0, 0)
    assert (got[6].n_dup_tokens, got[6].n_spans) == (0, 0)
    assert got[6].n_tokens == 2
    assert (got[7].n_dup_tokens, got[7].n_spans) == (10, 2)  # both copies

    import pytest as _pt
    with _pt.raises(ValueError, match="k must be"):
        dedup.duplicate_spans(df, k=1)


def test_conversation_near_dup_pairs(spark):
    """Conversation-level dedup: identical turn content in SHUFFLED input
    row order is a jacc=1.0 duplicate (the stable ordering canonicalizes
    before shingling); a conversation sharing only a prefix stays below
    the threshold; the rendered document row count equals the conversation
    count."""
    from datetime import datetime

    from codepropertygraph_spark.operators import dedup

    base = [
        "alice asks_about the quarterly report today",
        "the report uses_tool spreadsheet engine now",
        "bob refers_to the summary table next",
        "closing remarks mention the deadline friday",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append(("cA", i, "user", t, None, datetime(2024, 1, 1, 0, 0, i)))
    # cB: same content, input rows REVERSED (ordering must canonicalize)
    for i, t in reversed(list(enumerate(base))):
        rows.append(("cB", i, "user", t, None, datetime(2024, 1, 2, 0, 0, i)))
    # cC: shares only the first turn
    rows.append(("cC", 0, "user", base[0], None, datetime(2024, 1, 3, 0, 0, 0)))
    rows.append(("cC", 1, "user", "completely different content here entirely", None, datetime(2024, 1, 3, 0, 0, 1)))
    tr = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    docs = dedup.conversation_documents(tr)
    assert docs.count() == 3
    got = {(r.a, r.b): r.jacc for r in dedup.conversation_near_dup_pairs(tr, 0.8).collect()}
    assert got == {("cA", "cB"): 1.0}
