"""Canonicalization — exact token-Jaccard pairs + connected components,
resolved to a merge map.

The reference's analog is canonicalization-by-key (``NamespaceCreator.scala:
20-33``: groupBy name → one canonical node per group) plus the binding/alias
table resolution (``BindingTableCompat``); our domain needs *fuzzy* grouping:
near-duplicate canonical entity names (same entity_type, '_'-token Jaccard
≥ 0.5) are one entity, represented by the MIN canonical name of the
component (order-free tie-breaking).

``merge_map`` picks one of two implementations by dictionary size:

- for a dictionary of at most ``MERGE_MAP_DRIVER_MAX_ROWS`` rows — every
  dictionary this repo ships — it collects the (canonical_name,
  entity_type) pairs in one job and runs an exact All-Pairs prefix-filtered
  join (the filter of ``dedup.jaccard_prefix_pairs``) plus a
  min-representative union-find in Python, returning a local relation. A
  Spark plan for an entity-scale input costs more in per-job driver work
  than the join itself.
- above the gate, ``merge_map_spark``: candidate pairs from one of two
  blockings, verified with the exact Jaccard predicate (so precision is
  exact), then ``connected_components`` — the one driver-controlled
  DataFrame loop of this engine (SURVEY.md §4.2 item 3): min-label
  propagation with checkpointing to cut lineage.

  - ``candidate_pairs_token_block`` — exact recall: self-join on
    (entity_type, token). Fine when per-token document frequency is
    bounded; a DF cap guards the quadratic blowup of stop-tokens at scale.
  - ``candidate_pairs_lsh`` — the 100 TB path: k=32 MinHash, 16 bands × 2
    rows; miss probability at the 0.5 threshold ≈ (1-0.25)^16 ≈ 1%, ≈ 0.08%
    at the observed twin similarity 2/3. Banding keys are md5-derived
    (cross-engine checkable), grouped map-side, no quadratic term outside
    buckets.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import minhash_signature

MERGE_JACCARD = 0.5
MINHASH_K = 32
LSH_BANDS = 16  # rows per band = MINHASH_K / LSH_BANDS = 2

#: alias-dictionary rows up to which merge_map runs on the driver. Timed at
#: the gate on a 4-core box (local[4], 2g driver): 100k rows shaped like
#: testdata's dictionary ('<type>_<i>' over 4 types plus 20%
#: '<type>_<i>_<i>dup' twins, 4 parquet partitions) take 2.1-3.4 s for the
#: whole call, 1.8-2.2 s of it Python CPU, linear in rows. That is about
#: what the Spark path spends on job overhead for the 1k-row shipped
#: dictionary (~3 s); its LSH blocking is quadratic per type on this shape
#: (19.9 s at 5k rows).
MERGE_MAP_DRIVER_MAX_ROWS = 100_000


def canonical_entities(alias_dict: DataFrame) -> DataFrame:
    """Distinct (canonical_name, entity_type, name_tokens array)."""
    return (
        alias_dict.select("canonical_name", "entity_type")
        .distinct()
        .withColumn("name_tokens", F.array_distinct(F.split("canonical_name", "_")))
    )


def _pairs_from_block(blocked: DataFrame) -> DataFrame:
    """Self-join a blocked frame (block_key, canonical_name, name_tokens) into
    ordered candidate pairs (a < b) with both token arrays carried along."""
    left = blocked.select(
        "block_key",
        F.col("canonical_name").alias("a"),
        F.col("name_tokens").alias("a_tokens"),
    )
    right = blocked.select(
        "block_key",
        F.col("canonical_name").alias("b"),
        F.col("name_tokens").alias("b_tokens"),
    )
    return (
        left.join(right, "block_key")
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "a_tokens", "b_tokens")
        .dropDuplicates(["a", "b"])
    )


def candidate_pairs_token_block(
    alias_dict: DataFrame, max_token_df: int = 10000
) -> DataFrame:
    """Exact-recall blocking: entities sharing (entity_type, name-token).
    Tokens with document frequency > max_token_df are excluded from blocking
    (they cannot be the *only* shared token of a high-Jaccard pair in
    practice; the cap bounds the quadratic block size at scale)."""
    ents = canonical_entities(alias_dict)
    toks = ents.select(
        "canonical_name",
        "entity_type",
        "name_tokens",
        F.explode("name_tokens").alias("tok"),
    )
    df_counts = toks.groupBy("entity_type", "tok").agg(
        F.count("*").alias("token_df")
    )
    blocked = (
        toks.join(df_counts, ["entity_type", "tok"])
        .where(F.col("token_df") <= max_token_df)
        .withColumn("block_key", F.concat_ws("|", "entity_type", "tok"))
        .select("block_key", "canonical_name", "name_tokens")
    )
    return _pairs_from_block(blocked)


def candidate_pairs_lsh(alias_dict: DataFrame) -> DataFrame:
    """MinHash-LSH blocking: band signatures over name tokens; entities
    sharing (entity_type, band_idx, band_signature) become candidates."""
    rows_per_band = MINHASH_K // LSH_BANDS
    ents = canonical_entities(alias_dict).withColumn(
        "sig", minhash_signature("name_tokens", MINHASH_K)
    )
    bands = ents.select(
        "canonical_name",
        "entity_type",
        "name_tokens",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {LSH_BANDS - 1}), b -> "
                f"slice(sig, b * {rows_per_band} + 1, {rows_per_band}))"
            )
        ).alias("band_idx", "band_sig"),
    )
    blocked = bands.withColumn(
        "block_key",
        F.concat_ws(
            "|",
            "entity_type",
            F.col("band_idx").cast("string"),
            F.col("band_sig").cast("string"),
        ),
    ).select("block_key", "canonical_name", "name_tokens")
    return _pairs_from_block(blocked)


def verified_pairs(candidates: DataFrame, threshold: float = MERGE_JACCARD) -> DataFrame:
    """Exact token-Jaccard verification of candidate pairs → (a, b)."""
    inter = F.size(F.array_intersect("a_tokens", "b_tokens")).cast("double")
    union = F.size(F.array_union("a_tokens", "b_tokens")).cast("double")
    return candidates.where(inter / union >= F.lit(threshold)).select("a", "b")


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 30
) -> DataFrame:
    """Min-label propagation CC. nodes: (name); edges: (a, b) undirected.
    Returns (name, component) with component = min name in the component.

    Driver-controlled loop of join+groupBy per hop; ``localCheckpoint`` every
    iteration cuts lineage (SURVEY.md §4.2: checkpoint cadence). Iterations
    needed = graph diameter; alias-merge components are tiny (pairs/paths),
    so convergence is 1-3 rounds. Deterministic: min() is order-free.
    Raises ``RuntimeError`` if labels still change in round ``max_iter``
    rather than return unconverged labels.
    """
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.dropDuplicates(["a", "b"]).localCheckpoint(eager=True)
    labels = nodes.select(F.col("name"), F.col("name").alias("component"))
    for _ in range(max_iter):
        neigh = (
            sym.join(labels, sym.a == labels.name)
            .groupBy(F.col("b").alias("name2"))
            .agg(F.min("component").alias("neigh_min"))
        )
        # the improved-this-round flag rides along instead of a second
        # old-vs-new comparison join: the checkpoint materializes it, so
        # the convergence probe is a limit-1 scan of the checkpoint leaf.
        new_labels = (
            labels.join(neigh, labels.name == neigh.name2, "left")
            .select(
                "name",
                F.least(
                    F.col("component"), F.coalesce("neigh_min", F.col("component"))
                ).alias("component"),
                (F.col("neigh_min") < F.col("component")).alias("__chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.where(F.col("__chg")).limit(1).count()
        labels = new_labels.drop("__chg")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def lsh_missed_pairs(alias_dict: DataFrame) -> DataFrame:
    """Recall check for the LSH default: verified merge pairs that exact
    token blocking produces but MinHash-LSH blocking misses, as (a, b).
    Empty output = LSH has full recall on this dictionary. Run once per new
    dictionary version (entity-scale work, trivially cheap next to the token
    stream)."""
    exact = verified_pairs(candidate_pairs_token_block(alias_dict))
    lsh = verified_pairs(candidate_pairs_lsh(alias_dict))
    return exact.join(lsh, ["a", "b"], "left_anti")


def _prefix_len(s: int, overlap_share: float) -> int:
    """s - ceil(overlap_share * s) + 1, with the product rounded to 9 dp
    first as in ``dedup.jaccard_prefix_pairs``: a product that is whole in
    exact arithmetic must not ceil one too high from double rounding."""
    return s - math.ceil(round(overlap_share * s, 9)) + 1


def _jaccard_pairs(docs: list[tuple[str, frozenset]], threshold: float):
    """Every (a, b) name pair of ``docs`` with token Jaccard ≥ threshold,
    exactly. The All-Pairs candidate scheme: tokens ordered rarest first;
    docs are probed in ascending size order with the prefix bound of
    ``dedup.jaccard_prefix_pairs`` (s - ceil(t*s) + 1 tokens), against an
    index of the shorter prefix s - ceil(2t/(1+t)*s) + 1 of every smaller
    doc (Jaccard ≥ t forces overlap ≥ 2t/(1+t) * the smaller size). For
    two-token names at t = 0.5 that index holds only each name's rarest
    token, so a shared type prefix ('person_') makes no quadratic bucket.
    Candidates are verified with the same double division as
    ``verified_pairs``."""
    freq = Counter(tok for _, toks in docs for tok in toks)
    index_share = 2 * threshold / (1 + threshold)
    index: dict[str, list[int]] = defaultdict(list)
    docs = sorted(docs, key=lambda d: len(d[1]))
    for i, (name, toks) in enumerate(docs):
        s = len(toks)
        ordered = sorted(toks, key=lambda tok: (freq[tok], tok))
        seen: set[int] = set()
        for tok in ordered[: _prefix_len(s, threshold)]:
            for j in index[tok]:
                if j not in seen:
                    seen.add(j)
                    other, other_toks = docs[j]
                    inter = len(toks & other_toks)
                    if inter / (s + len(other_toks) - inter) >= threshold:
                        yield other, name
        for tok in ordered[: _prefix_len(s, index_share)]:
            index[tok].append(i)


def merge_rows(rows: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Driver-side merge map of distinct (canonical_name, entity_type) rows:
    one (canonical_name, merged_name) per row, merged_name = min name of its
    component under same-type token Jaccard ≥ MERGE_JACCARD. Exact."""
    parent = {name: name for name, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    by_type: dict[str, list] = defaultdict(list)
    for name, etype in rows:
        if name is not None:
            by_type[etype].append((name, frozenset(name.split("_"))))
    for docs in by_type.values():
        for a, b in _jaccard_pairs(docs, MERGE_JACCARD):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return [(name, find(name)) for name, _ in rows]


def merge_map(alias_dict: DataFrame, use_lsh: bool = True) -> DataFrame:
    """(canonical_name, merged_name) for every canonical in the dictionary
    (identity rows included) — the canonicalization output contract,
    matching the frozen ``expected_components`` oracle.

    RECALL CONTRACT: exact for a dictionary of at most
    ``MERGE_MAP_DRIVER_MAX_ROWS`` rows, where the map is computed on the
    driver (:func:`merge_rows`) and returned as a local relation;
    ``use_lsh`` has no effect there, since both blockings give this same
    exact result. Above the gate, :func:`merge_map_spark` with the chosen
    blocking: exact with token blocking, ≥ 99% recall with the LSH default.
    Below the gate the Spark work is one ``limit`` collect of the two name
    columns, deduplicated on the driver: no shuffle, and one job when the
    dictionary is one partition."""
    rows = (
        alias_dict.select("canonical_name", "entity_type")
        .limit(MERGE_MAP_DRIVER_MAX_ROWS + 1)
        .collect()
    )
    if len(rows) > MERGE_MAP_DRIVER_MAX_ROWS:
        return merge_map_spark(alias_dict, use_lsh)
    merged = merge_rows(list(dict.fromkeys(map(tuple, rows))))
    # from an Arrow table the frame is a JVM LocalRelation; from a Python
    # list it would be an RDD of pickled rows that every consumer's job
    # decodes again in Python workers
    table = pa.table(
        {
            "canonical_name": [n for n, _ in merged],
            "merged_name": [m for _, m in merged],
        },
        schema=pa.schema(
            [("canonical_name", pa.string()), ("merged_name", pa.string())]
        ),
    )
    return alias_dict.sparkSession.createDataFrame(table)


def merge_map_spark(alias_dict: DataFrame, use_lsh: bool = True) -> DataFrame:
    """The distributed merge map: blocking, exact verify, connected
    components. Same output contract as :func:`merge_map`.

    The DEFAULT blocking is MinHash-LSH (the 100 TB path). Token blocking
    degrades two ways on stop-token-heavy dictionaries: uncapped it admits
    O(df²) pairs per shared token, and its df-cap escape hatch LOSES true
    pairs whose only shared token was capped ('svc' vs 'svc_0', J=1/2).
    LSH collision probability depends on pair similarity, not token df, so
    neither failure mode applies (test_lsh_beats_token_blocking_on_stop_
    tokens). Both paths feed the same exact-Jaccard verify, so precision is
    identical; LSH recall at the 0.5 threshold is ≥ 99% in theory and
    exhaustively identical to token blocking on the shipped dictionary
    (test_merge_map_token_vs_lsh; the kg_merge_map_tokenblock driver row
    checks the token-blocking path against the DuckDB oracle).

    RECALL BOUND (public contract): LSH blocking is probabilistic — a true
    pair at exactly the 0.5 Jaccard threshold is missed with probability
    (1 - 0.5^2)^16 ≈ 1%, dropping fast as similarity rises. For a NEW
    dictionary, run :func:`lsh_missed_pairs` once (verified pairs token
    blocking finds that LSH does not; empty = full recall on that
    dictionary) before flipping production to the LSH default."""
    pairs = (
        candidate_pairs_lsh(alias_dict)
        if use_lsh
        else candidate_pairs_token_block(alias_dict)
    )
    good = verified_pairs(pairs)
    nodes = canonical_entities(alias_dict).select(
        F.col("canonical_name").alias("name")
    )
    cc = connected_components(nodes, good)
    return cc.select(
        F.col("name").alias("canonical_name"), F.col("component").alias("merged_name")
    )
