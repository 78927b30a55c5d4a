"""End-to-end KG composition: transcripts → final (subj, pred, obj) triples.

This is the flagship query — the analog of running the reference's full
frontend + enhancement pipeline and projecting resolved CALL/REACHING_DEF
edges (``FuzzyC2Cpg.runAndOutput`` → ``Scpg.run`` → ``cpg.call`` after
``CallLinker``; SURVEY.md §1.3: the triple set is the projection of REL edges
joined to canonical entity names).

Semantics contract (must equal the frozen reference extractor in
:mod:`codepropertygraph_spark.testdata`, P/R ≥ 0.95 — in fact exact):

1. clause triples: every pred-vocabulary token with both neighbors,
   subject/object linked via scored dictionary → canonical, unresolved →
   ``external:<surface>``, then rewritten through the canonicalization merge
   map;
2. ``follows`` triples: first mention (min token position; dict tokens and
   pred-adjacent unknowns count) per turn, consecutive turns in stable
   (turn_idx, ts) order → (first(later), follows, first(earlier));
3. DISTINCT (conv_id, subj, pred, obj).

Physical plan notes: the token explode (the dominant map cost) runs ONCE —
``flagged_tokens`` is persisted and feeds both the clause branch and the
first-mention branch. The dictionary and merge map are broadcast; the only
wide operations are the per-conversation windows and the final distinct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .. import schema as S
from . import canonicalize, extraction, linking, ordering


def first_mentions_from(
    flagged: DataFrame, transcripts: DataFrame, alias_dict: DataFrame
) -> DataFrame:
    """(conv_id, turn_idx, ts, first_canonical) — the min-position mention of
    each turn, linked (pre-merge canonical or external stub). Turns with no
    mention are absent."""
    # Aggregate over ALL tokens (not just mentions) with min(when(...)):
    # every turn has >= 1 token, so every turn survives the groupBy with
    # first_canonical = null when it has no mention — which removes the
    # join-back-to-transcripts the follows step would otherwise need.
    # min(struct(pos, canonical)) instead of a row_number window: the groupBy
    # pre-aggregates map-side (one row per turn leaves each task) where a
    # window would shuffle + sort every token row. pos is unique per turn,
    # so the struct min is deterministic.
    m = extraction.mention_candidates_from(flagged, alias_dict)
    return m.groupBy("conv_id", "turn_idx", "ts").agg(
        F.min(F.when(F.col("is_mention"), F.struct("pos", "canonical")))
        .getField("canonical")
        .alias("first_canonical")
    )


def first_mentions(transcripts: DataFrame, alias_dict: DataFrame) -> DataFrame:
    return first_mentions_from(
        extraction.flagged_tokens(transcripts), transcripts, alias_dict
    )


def follows_triples_from(
    flagged: DataFrame,
    transcripts: DataFrame,
    alias_dict: DataFrame,
    merge: DataFrame,
) -> DataFrame:
    # first_mentions now yields one row per turn (nulls for mention-less
    # turns), so adjacency comes from a single window over it — no join back
    # to the transcripts: a pair contributes only if BOTH adjacent turns
    # have a mention (reference semantics).
    fm = first_mentions_from(flagged, transcripts, alias_dict)
    fm = linking.apply_merge(fm, merge, "first_canonical")
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    return (
        fm.withColumn("prev_canonical", F.lag("first_canonical").over(w))
        .where(F.col("first_canonical").isNotNull() & F.col("prev_canonical").isNotNull())
        .select(
            "conv_id",
            F.col("first_canonical").alias("subj"),
            F.lit(S.PRED_FOLLOWS).alias("pred"),
            F.col("prev_canonical").alias("obj"),
        )
    )


def follows_triples(
    transcripts: DataFrame, alias_dict: DataFrame, merge: DataFrame
) -> DataFrame:
    """(conv_id, subj, pred='follows', obj) from consecutive turns' first
    mentions under the stable ordering window."""
    return follows_triples_from(
        extraction.flagged_tokens(transcripts), transcripts, alias_dict, merge
    )


def clause_triples_from(
    flagged: DataFrame, alias_dict: DataFrame, merge: DataFrame
) -> DataFrame:
    rt = extraction.raw_triples_from(flagged)
    lt = linking.linked_triples_premerge(rt, alias_dict)
    lt = linking.apply_merge(lt, merge, "subj_canonical", "subj")
    lt = linking.apply_merge(lt, merge, "obj_canonical", "obj")
    return lt.select("conv_id", "subj", "pred", "obj")


def clause_triples(
    transcripts: DataFrame, alias_dict: DataFrame, merge: DataFrame
) -> DataFrame:
    """Linked + merged clause triples (per occurrence, not yet distinct)."""
    return clause_triples_from(
        extraction.flagged_tokens(transcripts), alias_dict, merge
    )


def final_triples(
    transcripts: DataFrame,
    alias_dict: DataFrame,
    use_lsh: bool = True,
    merge: DataFrame | None = None,
) -> DataFrame:
    """The flagship output: DISTINCT (conv_id, subj, pred, obj).

    ``merge`` may be passed in precomputed: the merge map depends only on the
    alias dictionary (not the corpus), so production computes it once per
    dictionary version and amortizes it — exactly like the reference builds
    its Linker maps once up front (``Linker.initMaps``).
    """
    if merge is None:
        # merge map is entity-scale (tiny vs the token stream): computed
        # once, broadcast into apply_merge on both branches.
        merge = canonicalize.merge_map(alias_dict, use_lsh=use_lsh)
    # The token explode feeds both branches UNCACHED, deliberately: it is a
    # zero-shuffle map over the (resident) input, and recomputing it twice is
    # measurably cheaper than writing 10× the input volume into the block
    # store (measured 12s vs 26s at sf0.1×10 on local[32] — caching wide
    # exploded frames is memory-bandwidth-bound and caps scaling).
    flagged = extraction.flagged_tokens(transcripts)
    clauses = clause_triples_from(flagged, alias_dict, merge)
    follows = follows_triples_from(flagged, transcripts, alias_dict, merge)
    return clauses.unionByName(follows).dropDuplicates(
        ["conv_id", "subj", "pred", "obj"]
    )


def negative_samples(
    triples: DataFrame, k: int = 2, salt: str = "neg"
) -> DataFrame:
    """Deterministic filtered negative sampling for KG-embedding training
    (the TransE-family corruption step): for every distinct positive
    (subj, pred, obj), emit up to ``k`` corrupted triples whose object is
    replaced by a pseudo-random entity — with ACCIDENTAL POSITIVES
    REMOVED (a corrupted triple that happens to exist in the KG would be
    a false negative label).

    The "random" pick is a pure function of (salt, j, subj, pred, obj):
    entity at rank ``hash60(...) % n`` in the id-sorted entity vocabulary
    — reproducible across engines, partitionings and cluster sizes, so
    the training set is lineage-stable (the sampler discipline of
    ``operators/sampling.py``).

    Returns (subj, pred, neg_obj, j). Note ``j`` slots whose pick
    collides with a true triple are dropped, not re-drawn — re-drawing
    would need data-dependent iteration; at KG scale the loss is the
    accidental-positive rate (tiny) and stays deterministic.

    Scale shape: the entity vocabulary is indexed ONCE via the range-
    partitioned exact rank (``ids.ordered_index`` — identical value to a
    global row_number window, but no single-partition sort of the
    vocabulary), its count is a 1-row broadcast, candidates are a k-way
    JVM explode over the positives (map-only), the pick is one equi-join
    on the rank index, and the filter is one left-anti join on the triple
    key.
    """
    from ..ids import hash60, ordered_index

    pos = triples.select("subj", "pred", "obj").dropDuplicates(
        ["subj", "pred", "obj"]
    )
    ents = (
        pos.select(F.col("subj").alias("entity"))
        .unionByName(pos.select(F.col("obj").alias("entity")))
        .dropDuplicates(["entity"])
    )
    idx = ordered_index(ents, "entity").localCheckpoint(eager=True)
    n = idx.agg(F.count("*").alias("n"))
    cand = (
        pos.crossJoin(F.broadcast(n))
        .select(
            "subj",
            "pred",
            "obj",
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j"),
            F.col("n"),
        )
        .withColumn(
            "idx",
            F.pmod(
                hash60(
                    F.concat_ws(
                        "|",
                        F.lit(salt),
                        F.col("j").cast("string"),
                        "subj",
                        "pred",
                        "obj",
                    )
                ),
                F.col("n"),
            ).cast("long"),
        )
    )
    picked = cand.join(F.broadcast(idx), "idx").select(
        "subj", "pred", F.col("entity").alias("neg_obj"), F.col("j").cast("long").alias("j")
    )
    return picked.join(
        pos.select(
            "subj", "pred", F.col("obj").alias("neg_obj")
        ),
        ["subj", "pred", "neg_obj"],
        "left_anti",
    )


def incremental_new_facts(
    triples: DataFrame, increment_buckets: int = 10, salt: str = "incr"
) -> DataFrame:
    """Incremental-construction fact diff → (subj, pred, obj, n_convs_incr):
    the distinct facts that an INCREMENT batch of conversations introduces
    which no BASE conversation already asserts — the triple-level DiffGraph
    of one ingestion step (SURVEY §1.3's resumable construction: production
    never re-extracts the world; it extracts the new batch and applies the
    diff, exactly like the reference applies per-pass DiffGraphs instead of
    rebuilding the CPG — ``CpgPass.scala`` apply discipline).

    The batch split is deterministic: a conversation is "increment" iff
    ``hash60(salt|conv_id) % increment_buckets == 0`` — the repo's
    hash-membership sampler, standing in for "conversations that arrived
    since the last committed snapshot" so the check is reproducible on any
    engine. This is sound as a pure anti-join of EXTRACTION OUTPUTS because
    extraction + linking are per-conversation maps and the canonicalization
    merge map depends only on the alias dictionary (``final_triples``
    contract) — the increment's triples are computable without touching
    base conversations; only the membership test reads the base, and that
    is the one aggregate below.

    Input contract: one row per (conv_id, subj, pred, obj) — exactly what
    ``final_triples`` emits — so the conditional sums below count
    CONVERSATIONS; pre-deduplicate if feeding per-occurrence rows.

    Scale shape: ONE two-phase aggregate over the distinct triple set,
    grouping by (subj, pred, obj) with conditional counts for both sides —
    no join at all (the fact's base/increment provenance is a flag on each
    row). At 10^12 turns the base side is the committed snapshot's fact
    table; the same plan is the anti-join of increment facts against it,
    broadcast when the batch is small.
    """
    from ..ids import hash60

    flagged = triples.select(
        "subj",
        "pred",
        "obj",
        (
            F.pmod(
                hash60(F.concat_ws("|", F.lit(salt), F.col("conv_id"))),
                F.lit(increment_buckets),
            )
            == 0
        ).alias("is_incr"),
    )
    per_fact = flagged.groupBy("subj", "pred", "obj").agg(
        F.sum(F.col("is_incr").cast("long")).alias("n_convs_incr"),
        F.sum((~F.col("is_incr")).cast("long")).alias("n_convs_base"),
    )
    return per_fact.where(
        (F.col("n_convs_incr") > 0) & (F.col("n_convs_base") == 0)
    ).select("subj", "pred", "obj", F.col("n_convs_incr").cast("long").alias("n_convs_incr"))


def fact_intervals(
    transcripts: DataFrame,
    alias_dict: DataFrame,
    merge: DataFrame | None = None,
) -> DataFrame:
    """Temporal validity profile per clause fact → (subj, pred, obj,
    first_ts, last_ts, n_occurrences, n_convs) — the triple-level
    counterpart of the per-entity lifespan profile: when a fact was first
    and last asserted, how often, and in how many conversations. The
    temporal-KG primitive: an as-of-T snapshot is ``WHERE first_ts <= T``,
    staleness gates read ``last_ts``, and confidence weighting reads the
    occurrence counts.

    Built from the per-OCCURRENCE clause stream (``extraction.raw_triples``
    keeps (ts, pos) per occurrence — ``final_triples`` deliberately
    distincts them away), linked and merged exactly like clause_triples.
    Scale shape: the same two broadcast dictionary probes + broadcast merge
    rewrites every per-conversation pass uses, then ONE two-phase aggregate
    over (subj, pred, obj) — min/max/count partials combine map-side.
    ``follows`` triples are ordering artifacts, not temporal assertions,
    and are out of scope by construction (clause stream only).
    """
    from . import canonicalize

    if merge is None:
        merge = canonicalize.merge_map(alias_dict)
    rt = extraction.raw_triples(transcripts)
    lt = linking.linked_triples_premerge(rt, alias_dict)
    lt = linking.apply_merge(lt, merge, "subj_canonical", "subj")
    lt = linking.apply_merge(lt, merge, "obj_canonical", "obj")
    return lt.groupBy("subj", "pred", "obj").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.count("*").cast("long").alias("n_occurrences"),
        F.countDistinct("conv_id").cast("long").alias("n_convs"),
    )


def functional_violations(
    triples: DataFrame, functional_preds: list[str]
) -> DataFrame:
    """KG-quality gate: (subj, pred, n_objs, objs) rows where a predicate
    DECLARED functional (each subject should carry one object — the
    cardinality contract ``predicate_profile``'s functionality_milli
    estimates empirically) has multiple distinct objects for one subject —
    the classic entity-disambiguation / extraction-noise smell a
    construction pipeline alerts on before committing an overlay.

    ``objs`` is the sorted distinct object list (``sort_array(collect_set)``
    — deterministic, bounded by the violation fan-out itself, which is
    exactly the quantity being reported). One filter + one two-phase agg.
    """
    return (
        triples.where(F.col("pred").isin(list(functional_preds)))
        .groupBy("subj", "pred")
        .agg(
            F.countDistinct("obj").cast("long").alias("n_objs"),
            F.sort_array(F.collect_set("obj")).alias("objs"),
        )
        .where(F.col("n_objs") > 1)
    )


def predicate_profile(triples: DataFrame) -> DataFrame:
    """Per-predicate schema profile of the constructed KG — the property
    cardinality report a graph-quality gate reads: how many distinct
    triples/subjects/objects each predicate carries and its
    (inverse-)functionality in integer MILLI-units:

        functionality_milli     = 1000 * n_triples div n_subj
        inv_functionality_milli = 1000 * n_triples div n_obj

    1000 ≈ functional (each subject has one object — e.g. a well-linked
    ``uses_tool``); large values flag hub predicates that need skew
    handling downstream. One distinct + one two-phase agg; integer
    ratios keep the report engine-exact.
    """
    pos = triples.select("subj", "pred", "obj").dropDuplicates(
        ["subj", "pred", "obj"]
    )
    return (
        pos.groupBy("pred")
        .agg(
            F.count("*").cast("long").alias("n_triples"),
            F.countDistinct("subj").cast("long").alias("n_subj"),
            F.countDistinct("obj").cast("long").alias("n_obj"),
        )
        .select(
            "pred",
            "n_triples",
            "n_subj",
            "n_obj",
            F.expr("1000 * n_triples DIV n_subj").alias("functionality_milli"),
            F.expr("1000 * n_triples DIV n_obj").alias(
                "inv_functionality_milli"
            ),
        )
    )


def bgp_match(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    broadcast_rows: int = 200_000,
    optional: list[tuple[str, str, str]] | None = None,
    not_exists: list[tuple[str, str, str]] | None = None,
) -> DataFrame:
    """Conjunctive basic-graph-pattern matching over the global triple set
    — the SPARQL-BGP / Cypher-MATCH primitive, and the set-semantics analog
    of chaining the reference's traversal steps (``cpg.call.callee.name``
    is exactly a two-pattern BGP over CALL/REF edges; SURVEY.md §2.C).

    ``patterns`` are (subject, predicate, object) terms; a term starting
    with ``?`` is a variable, anything else a constant. Returns one column
    per variable (name without the ``?``), DISTINCT bindings (SPARQL set
    semantics). A variable repeated inside one pattern becomes an equality
    filter; a pattern sharing no variable with the accumulated prefix joins
    as a cross product (legal, rare, and chosen last by the planner).

    Planner — Spark-first, selectivity-ordered:

    1. ONE fused stats pass computes every pattern's matched-row count as
       conditional sums in a single aggregate over the (persisted) triple
       set — planning statistics, not data, reach the driver (the repo's
       fused-collect discipline; one job regardless of pattern count).
    2. Patterns greedily join smallest-count-first among those CONNECTED
       to the already-bound variables (classic left-deep selectivity
       ordering); disconnected patterns defer until forced.
    3. A pattern slice whose count ≤ ``broadcast_rows`` joins as the
       BROADCAST side, so selective chain lookups never shuffle the
       accumulated bindings; larger slices fall back to hash joins on the
       shared variables, where AQE handles skewed hub keys.

    At 100 TB the triple set is the big fact table and every filtered
    pattern slice is small relative to it — the plan is a left-deep chain
    of broadcast probes exactly like the TPC-H dimension pipelines, with
    the scan pruned per-pattern by pushed-down constant predicates.

    SPARQL-algebra extensions, both applied AFTER the required BGP (the
    left-to-right evaluation order of the SPARQL spec):

    - ``optional`` — each pattern LEFT-joins the accumulated bindings on
      its shared variables (SPARQL OPTIONAL / Cypher OPTIONAL MATCH):
      variables the pattern introduces become nullable columns, bindings
      with no match survive with NULLs, multiple matches multiply rows.
      An optional pattern must share ≥1 variable with the required BGP
      (a disconnected OPTIONAL is a cross product — rejected, by design).
    - ``not_exists`` — each pattern ANTI-joins on its shared variables
      (SPARQL FILTER NOT EXISTS; the traversal DSL's ``where_not_in`` at
      set semantics): bindings with any match are dropped; variables the
      pattern introduces bind nothing. Same connectivity requirement.

    Both join against the pattern's DISTINCT projection onto the shared +
    introduced variables, so the plan stays the dimension-probe shape
    (broadcast when the slice is small) and anti/left joins are AQE's
    standard skew cases.
    """
    if not patterns:
        raise ValueError("bgp_match needs at least one pattern")

    def is_var(t: str) -> bool:
        return t.startswith("?")

    optional = optional or []
    not_exists = not_exists or []
    all_patterns = list(patterns) + list(optional) + list(not_exists)
    base = triples.select("subj", "pred", "obj").dropDuplicates(
        ["subj", "pred", "obj"]
    )
    # 1. fused selectivity stats: one aggregate, one small collect —
    # required, optional and not-exists slices all counted in the same job.
    conds = []
    for s, p, o in all_patterns:
        c = F.lit(True)
        if not is_var(s):
            c = c & (F.col("subj") == s)
        if not is_var(p):
            c = c & (F.col("pred") == p)
        if not is_var(o):
            c = c & (F.col("obj") == o)
        conds.append(c)
    stats = base.agg(
        *[F.sum(c.cast("long")).alias(f"n{i}") for i, c in enumerate(conds)]
    ).first()
    counts = [int(stats[f"n{i}"] or 0) for i in range(len(all_patterns))]

    def pattern_frame(idx: int) -> DataFrame:
        s, p, o = all_patterns[idx]
        df = base.where(conds[idx])
        cols, seen = [], {}
        for term, col in ((s, "subj"), (p, "pred"), (o, "obj")):
            if not is_var(term):
                continue
            v = term[1:]
            if v in seen:  # repeated var inside one pattern -> equality
                df = df.where(F.col(seen[v]) == F.col(col))
            else:
                seen[v] = col
                cols.append(F.col(col).alias(v))
        df = df.select(*cols) if cols else df.select(F.lit(1).alias("__one"))
        return df.dropDuplicates()

    def pattern_vars(idx: int) -> set[str]:
        return {t[1:] for t in all_patterns[idx] if is_var(t)}

    # 2. greedy left-deep order: seed with the globally smallest pattern,
    # then repeatedly take the smallest CONNECTED remaining pattern.
    remaining = list(range(len(patterns)))
    order = [min(remaining, key=lambda i: (counts[i], i))]
    remaining.remove(order[0])
    bound = set(pattern_vars(order[0]))
    while remaining:
        connected = [i for i in remaining if pattern_vars(i) & bound]
        pick = min(connected or remaining, key=lambda i: (counts[i], i))
        order.append(pick)
        remaining.remove(pick)
        bound |= pattern_vars(pick)

    out = pattern_frame(order[0])
    for idx in order[1:]:
        nxt = pattern_frame(idx)
        if counts[idx] <= broadcast_rows:
            nxt = F.broadcast(nxt)
        on = sorted(set(out.columns) & set(nxt.columns) - {"__one"})
        out = out.join(nxt, on=on) if on else out.crossJoin(nxt)
    # SPARQL-algebra extensions over the accumulated required bindings.
    for i in range(len(optional)):
        idx = len(patterns) + i
        nxt = pattern_frame(idx)
        on = sorted(set(out.columns) & set(nxt.columns) - {"__one"})
        if not on:
            raise ValueError(
                f"OPTIONAL pattern {optional[i]} shares no variable with "
                "the required BGP (disconnected OPTIONAL is a cross product)"
            )
        if counts[idx] <= broadcast_rows:
            nxt = F.broadcast(nxt)
        out = out.join(nxt, on=on, how="left")
    for i in range(len(not_exists)):
        idx = len(patterns) + len(optional) + i
        nxt = pattern_frame(idx)
        on = sorted(set(out.columns) & set(nxt.columns) - {"__one"})
        if not on:
            raise ValueError(
                f"NOT EXISTS pattern {not_exists[i]} shares no variable "
                "with the accumulated bindings"
            )
        nxt = nxt.select(*on).dropDuplicates()
        if counts[idx] <= broadcast_rows:
            nxt = F.broadcast(nxt)
        out = out.join(nxt, on=on, how="left_anti")
    var_cols = sorted(c for c in out.columns if c != "__one")
    if not var_cols:  # all-constant BGP: existence check -> 0/1 rows
        return out.select(F.lit(1).alias("matched")).limit(1)
    return out.select(*var_cols).dropDuplicates()


def role_transitions(transcripts: DataFrame) -> DataFrame:
    """Corpus-level role-transition counts → (prev_role, role, cnt) — the
    dialogue-act Markov matrix of the transcript corpus (user→assistant,
    assistant→tool, tool→assistant, ...). A curation pipeline reads this as
    a structural-health gate: a corpus whose assistant turns are never
    followed by tool turns trains no tool use; a user→user mass flags
    ingestion glitches (dropped turns / merged conversations).

    Each consecutive turn pair under the repo's stable ordering
    (``ordering.turn_window``: rank by (turn_idx, ts) within conv_id — the
    input_hint contract) contributes one (prev_role, role) observation;
    conversation boundaries contribute nothing (lag is NULL at the first
    turn).

    Scale shape: ONE window shuffle on conv_id (the same exchange the
    extraction/ordering stages already create, so Catalyst reuses it when
    composed) followed by a two-phase count over at most |roles|² groups —
    the output is a handful of rows regardless of corpus size.
    """
    w = ordering.turn_window()
    return (
        transcripts.select("conv_id", "turn_idx", "ts", "role")
        .withColumn("prev_role", F.lag("role").over(w))
        .where(F.col("prev_role").isNotNull())
        .groupBy("prev_role", "role")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
