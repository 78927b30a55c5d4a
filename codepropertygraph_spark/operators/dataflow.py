"""Bounded graph reachability — the ``reachableBy`` query-engine analog.

The reference's dataflow query engine explores the DDG backwards from sinks
with a work-stealing task pool, per-task memoization, global dedup and a
bounded call depth (default 4) (``dataflowengineoss/.../queryengine/
Engine.scala:42-127`` scheduler, ``:255-331`` recursive expansion,
``:217-239`` dedup, ``EngineConfig.maxCallDepth:243-244``).

Spark translation (SURVEY.md §2.D): a bounded iterative **frontier join**
over the edge table — k hops = k broadcast-or-shuffle joins, dedup =
``dropDuplicates``, memoization = reusing the accumulated result as the
next frontier's filter. The loop is driver-controlled but each step is a
declarative join Catalyst optimizes; AQE rebalances skewed frontiers (hub
entities fan out).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def reachable_within(
    edges: DataFrame, max_hops: int = 4, keyed_by: str = "conv_id"
) -> DataFrame:
    """Transitive closure bounded at ``max_hops`` over a directed edge set
    ``(keyed_by, s, o)``. Returns DISTINCT (keyed_by, src, dst) pairs with a
    path of length 1..max_hops. Each iteration extends the frontier one hop
    and drops already-reached pairs (the ResultTable dedup analog)."""
    e = edges.select(keyed_by, "s", "o").dropDuplicates([keyed_by, "s", "o"])
    e = e.persist()
    e.count()  # materialize once; reused every hop
    reached = e
    frontier = e
    for _ in range(max_hops - 1):
        step = (
            frontier.alias("f")
            .join(
                e.alias("e"),
                (F.col(f"f.{keyed_by}") == F.col(f"e.{keyed_by}"))
                & (F.col("f.o") == F.col("e.s")),
            )
            .select(F.col(f"f.{keyed_by}").alias(keyed_by), F.col("f.s").alias("s"), F.col("e.o").alias("o"))
            .dropDuplicates([keyed_by, "s", "o"])
        )
        # drop already-reached pairs (ResultTable dedup): anti-join beats
        # exceptAll — no full-row sort, streams through one shuffle.
        new = step.join(reached, [keyed_by, "s", "o"], "left_anti").persist()
        if new.count() == 0:
            new.unpersist()
            break
        new_reached = reached.unionByName(new).persist()
        new_reached.count()
        # block-store hygiene: once the union is materialized, the superseded
        # accumulator and the consumed frontier are dead — at most two live
        # persisted generations (new + new_reached) plus the edge table.
        if reached is not e:
            reached.unpersist()
        if frontier is not e and frontier is not new:
            frontier.unpersist()
        reached = new_reached
        frontier = new
    return reached.select(
        F.col(keyed_by), F.col("s").alias("src"), F.col("o").alias("dst")
    ).dropDuplicates([keyed_by, "src", "dst"])


def reaching_def_edges(
    transcripts: DataFrame, alias_dict: DataFrame, merge: DataFrame
) -> DataFrame:
    """REACHING_DEF analog (A19, ``dataflowengineoss/.../reachingdef/
    ReachingDefPass.scala:11-113``): a turn that mentions entity E *defines*
    E; the definition reaches forward until the next turn that redefines E
    (gen/kill on the linear per-conversation CFG). On a linear CFG the
    worklist fixpoint collapses exactly to a per-(conversation, entity) lag:
    consecutive E-mentioning turns yield ``src --REACHING_DEF(VARIABLE=E)-->
    dst`` edges. Output: (conv_id, variable, src_order, dst_order).

    Fully vectorized — two windows, no Python — because the CFG is a chain;
    the general DAG case runs the worklist solver group-locally in the
    batched ``mapInArrow`` walker (see :func:`dominators_grouped`).
    """
    from pyspark.sql import Window

    from . import extraction, linking

    flagged = extraction.flagged_tokens(transcripts)
    m = extraction.mention_candidates_from(flagged, alias_dict)
    m = m.where(F.col("is_mention"))
    m = linking.apply_merge(m, merge, "canonical")
    per_turn = m.select("conv_id", "turn_idx", "ts", "canonical").dropDuplicates()
    # stable turn rank without joining transcripts: rank the distinct turn
    # keys seen in mentions... rank must match the global turn_order, so
    # rank over ALL turns (mention-less turns shift the order) — derive from
    # the transcript turn frame, broadcast-free single window.
    turns = transcripts.select("conv_id", "turn_idx", "ts").withColumn(
        "turn_order",
        F.row_number().over(Window.partitionBy("conv_id").orderBy("turn_idx", "ts")),
    )
    per_turn = per_turn.join(turns, ["conv_id", "turn_idx", "ts"])
    w = Window.partitionBy("conv_id", "canonical").orderBy("turn_order")
    return (
        per_turn.withColumn("src_order", F.lag("turn_order").over(w))
        .where(F.col("src_order").isNotNull())
        .select(
            "conv_id",
            F.col("canonical").alias("variable"),
            F.col("src_order").cast("long").alias("src_order"),
            F.col("turn_order").cast("long").alias("dst_order"),
        )
    )


def _idom_kernel(entry, s_list: list, o_list: list) -> dict:
    """Immediate dominators for ONE group's edge list (Cooper-Harvey-Kennedy
    iterative dataflow). Returns {node: idom}; the entry maps to itself;
    nodes unreachable from the entry are omitted. Duplicate edges are
    idempotent: repeated pred entries re-intersect to the same dominator
    and the RPO walk visits each node once."""
    succ: dict = {}
    pred: dict = {}
    for s, o in zip(s_list, o_list):
        succ.setdefault(s, []).append(o)
        pred.setdefault(o, []).append(s)
    # reverse post-order from entry
    order: list = []
    seen: set = set()
    stack: list = [(entry, 0)]
    while stack:
        n, i = stack.pop()
        if i == 0:
            if n in seen:
                continue
            seen.add(n)
        kids = succ.get(n, [])
        if i < len(kids):
            stack.append((n, i + 1))
            if kids[i] not in seen:
                stack.append((kids[i], 0))
        else:
            order.append(n)
    rpo = list(reversed(order))
    idx = {n: i for i, n in enumerate(rpo)}
    idom: dict = {entry: entry}

    def intersect(a, b):
        while a != b:
            while idx[a] > idx[b]:
                a = idom[a]
            while idx[b] > idx[a]:
                b = idom[b]
        return a

    changed = True
    while changed:
        changed = False
        for n in rpo:
            if n == entry:
                continue
            ps = [p for p in pred.get(n, []) if p in idom]
            if not ps:
                continue
            new = ps[0]
            for p in ps[1:]:
                new = intersect(new, p)
            if idom.get(n) != new:
                idom[n] = new
                changed = True
    return idom


def dominators_grouped(edges: DataFrame, entries: DataFrame) -> DataFrame:
    """Per-group immediate dominators — the CfgDominatorPass analog (A17,
    ``semanticcpg/.../cfgdominator/CfgDominator.scala:15-116``, Cooper-
    Harvey-Kennedy iterative dataflow). The graph is conversation-local, so
    the whole fixpoint runs group-locally (zero iterative shuffles —
    SURVEY.md §4.2 item 3), as ``mapInArrow`` over a key-sorted repartition:
    one Python call per PARTITION of contiguous groups instead of a pandas
    frame per group (the same batching discipline as
    :func:`reachable_within_grouped`; the per-group slice/construct overhead
    of thousands of tiny groups was a measured ~25% of the closure wall
    there). No upstream dropDuplicates: duplicate edges are idempotent in
    the CHK kernel, so the dedup exchange would only re-shuffle the edge
    table for nothing.

    edges: (conv_id, s, o) directed; entries: (conv_id, entry).
    Returns (conv_id, node, idom); the entry has idom = itself. Nodes not
    reachable from the entry are omitted (matching the reference, which
    walks from the entry).
    """
    joined = edges.select("conv_id", "s", "o").join(F.broadcast(entries), "conv_id")
    part = (
        joined.select("conv_id", "s", "o", "entry")
        .repartition(F.col("conv_id"))
        .sortWithinPartitions("conv_id")
    )

    def walk(batches):
        import pyarrow as pa

        out_k: list = []
        out_n: list = []
        out_i: list = []
        cur_key = None
        cur_entry = None
        cur_s: list = []
        cur_o: list = []

        def flush():
            if cur_key is None or not cur_s:
                return
            idom = _idom_kernel(cur_entry, cur_s, cur_o)
            out_k.extend([cur_key] * len(idom))
            out_n.extend(idom.keys())
            out_i.extend(idom.values())

        def emit():
            return pa.record_batch(
                [
                    pa.array(out_k, type=pa.string()),
                    pa.array(out_n, type=pa.string()),
                    pa.array(out_i, type=pa.string()),
                ],
                names=["conv_id", "node", "idom"],
            )

        for batch in batches:
            keys = batch.column(0).to_pylist()
            ss = batch.column(1).to_pylist()
            oo = batch.column(2).to_pylist()
            ee = batch.column(3).to_pylist()
            for k, s, o, en in zip(keys, ss, oo, ee):
                if k != cur_key:
                    flush()
                    cur_key = k
                    cur_entry = en
                    cur_s = []
                    cur_o = []
                cur_s.append(s)
                cur_o.append(o)
            if len(out_k) > 500_000:
                yield emit()
                out_k, out_n, out_i = [], [], []
        flush()
        yield emit()

    return part.mapInArrow(
        walk, schema="conv_id string, node string, idom string"
    )


def control_dependence_grouped(edges: DataFrame, exits: DataFrame) -> DataFrame:
    """CDG edges from the post-dominance frontier — the CdgPass analog (A18,
    ``semanticcpg/.../codepencegraph/CdgPass.scala:22-49``, frontier
    ``CfgDominatorFrontier.scala:1-40``): post-dominators = dominators of
    the reversed graph from the exit; node n is control-dependent on m when
    m ∈ PDF(n). Same per-group UDF pattern as :func:`dominators_grouped`.

    edges: (conv_id, s, o); exits: (conv_id, exit). Returns
    (conv_id, controller, dependent).
    """
    rev = edges.select(
        "conv_id", F.col("o").alias("s"), F.col("s").alias("o")
    )
    pdom = dominators_grouped(
        rev, exits.select("conv_id", F.col("exit").alias("entry"))
    ).select("conv_id", "node", F.col("idom").alias("ipdom"))

    # The edge and post-dominator frames reach the walker as a TAGGED UNION
    # repartitioned by conversation (ipdom rows tag 0, edge rows tag 1) —
    # the former ``edges JOIN pdom ON conv_id`` was a per-conversation
    # cartesian product (|edges| x |nodes| rows into every group), so the
    # union shuffles |edges| + |nodes| rows instead. The within-partition
    # sort on (conv_id, tag) hands each group its ipdom map before its
    # edges. Duplicate edge rows dedup in the walker's edge set.
    tagged = pdom.select(
        "conv_id",
        F.col("node").alias("a"),
        F.col("ipdom").alias("b"),
        F.lit(0).alias("t"),
    ).unionByName(
        edges.select(
            "conv_id",
            F.col("s").alias("a"),
            F.col("o").alias("b"),
            F.lit(1).alias("t"),
        )
    )
    part = tagged.repartition(F.col("conv_id")).sortWithinPartitions(
        "conv_id", "t"
    )

    def walk(batches):
        import pyarrow as pa

        out_k: list = []
        out_c: list = []
        out_d: list = []
        cur_key = None
        ipdom: dict = {}
        edge_set: set = set()

        def flush():
            if cur_key is None or not edge_set:
                return
            pairs = set()
            # PDF via the standard two-pointer walk: for edge (a, b),
            # runner = a while runner != ipdom(b): b is control-dependent
            # on runner. The chain bound RAISES rather than truncating: an
            # ipdom chain longer than the group's node count means a cyclic
            # ipdom map (impossible from a well-formed dominator pass) and
            # silently dropping pairs would be a correctness cliff, not a
            # degradation.
            max_chain = len(ipdom) + 1
            for a, b in edge_set:
                if a not in ipdom or b not in ipdom:
                    continue
                runner = a
                stop = ipdom[b]
                guard = 0
                while runner != stop:
                    if guard > max_chain:
                        raise RuntimeError(
                            f"control_dependence_grouped: ipdom chain "
                            f"exceeds {max_chain} nodes in group "
                            f"{cur_key!r} — cyclic ipdom map"
                        )
                    pairs.add((runner, b))
                    if runner == ipdom.get(runner):
                        break
                    runner = ipdom.get(runner)
                    if runner is None:
                        break
                    guard += 1
            for c, d in sorted(pairs):
                out_k.append(cur_key)
                out_c.append(c)
                out_d.append(d)

        def emit():
            return pa.record_batch(
                [
                    pa.array(out_k, type=pa.string()),
                    pa.array(out_c, type=pa.string()),
                    pa.array(out_d, type=pa.string()),
                ],
                names=["conv_id", "controller", "dependent"],
            )

        for batch in batches:
            keys = batch.column(0).to_pylist()
            aa = batch.column(1).to_pylist()
            bb = batch.column(2).to_pylist()
            tt = batch.column(3).to_pylist()
            for k, a, b, t in zip(keys, aa, bb, tt):
                if k != cur_key:
                    flush()
                    cur_key = k
                    ipdom = {}
                    edge_set = set()
                if t == 0:
                    ipdom[a] = b
                else:
                    edge_set.add((a, b))
            if len(out_k) > 500_000:
                yield emit()
                out_k, out_c, out_d = [], [], []
        flush()
        yield emit()

    return part.mapInArrow(
        walk, schema="conv_id string, controller string, dependent string"
    )


#: source/sink sets are query-selected (reference semantics: a handful of
#: cpg.call("...") roots) — refuse silently collecting a huge frame to the
#: driver; callers with genuinely large sets should semi-join the edge table
#: instead.
MAX_NODE_SET = 1_000_000


def _collect_node_set(df: DataFrame | None, col: str) -> set[str] | None:
    if df is None:
        return None
    rows = df.select(col).distinct().limit(MAX_NODE_SET + 1).collect()
    if len(rows) > MAX_NODE_SET:
        raise ValueError(
            f"flow {col} set exceeds MAX_NODE_SET={MAX_NODE_SET}; "
            "semi-join the edge frame instead of passing a driver-side set"
        )
    return {r[0] for r in rows}


def flow_witness_grouped(
    edges: DataFrame,
    max_hops: int = 4,
    keyed_by: str = "conv_id",
    sources: DataFrame | None = None,
    sinks: DataFrame | None = None,
) -> DataFrame:
    """The SCALE path for path-returning flows: ONE deterministic witness
    path per reachable (src, dst) pair — the shortest, tie-broken by the
    lexicographically smallest path at each BFS level — instead of
    enumerating every simple path (:func:`flow_paths_grouped`), which is
    output-exponential on hub-dense graphs. The reference's engine has the
    same discipline: its ResultTable dedups flows per (head, last) rather
    than returning every expansion (``Engine.scala:217-239``).

    The witness is defined by a level-synchronized recurrence (so the DuckDB
    oracle can mirror it with one unrolled CTE per level):
      W1(v)   = min over edges (start, v) of 'start->v'
      WL(v)   = min over edges (u, v), u reached at level L-1, v unreached
                at any level < L and v != start, of WL-1(u) || '->v'
    Appending a child preserves string order because the separator '-'
    sorts below every character used in canonical names, so per-level min
    composition is well-defined. Output bounded by the reachable pair count;
    per-group work is O(starts · E · max_hops).

    ``sources`` (single-column 'src') / ``sinks`` (single-column 'dst')
    restrict the BFS start set and the emitted (src, dst) pairs — the
    reference engine's actual invocation shape: flows are always asked for a
    query-selected source/sink set, never all-pairs (``Engine.scala:42-46``
    backwards from sinks, ``TrackingPoint.scala:74-84``). Both are collected
    to broadcast-size sets with the same guard as :func:`flow_paths_grouped`.

    Runs as ``mapInArrow`` over a key-sorted repartition (one Python call
    per partition of contiguous groups) — the reachable_within_grouped
    batching discipline; same rows as the former per-group applyInPandas.
    """
    src_set = _collect_node_set(sources, "src")
    sink_set = _collect_node_set(sinks, "dst")

    def walk(batches):
        import pyarrow as pa

        out_key: list = []
        out_src: list = []
        out_dst: list = []
        out_hops: list = []
        out_path: list = []
        cur_key = None
        cur_s: list = []
        cur_o: list = []

        def flush():
            if cur_key is None or not cur_s:
                return
            adj: dict[str, set[str]] = {}
            for s, o in zip(cur_s, cur_o):
                if s != o:
                    adj.setdefault(s, set()).add(o)
            starts = adj if src_set is None else [s for s in adj if s in src_set]
            for start in starts:
                best: dict[str, str] = {start: start}
                frontier = [start]
                for hop in range(1, max_hops + 1):
                    cand: dict[str, str] = {}
                    for u in frontier:
                        pu = best[u]
                        for v in adj.get(u, ()):
                            if v in best:
                                continue
                            s = pu + "->" + v
                            if v not in cand or s < cand[v]:
                                cand[v] = s
                    if not cand:
                        break
                    for v, s in cand.items():
                        best[v] = s
                        if sink_set is not None and v not in sink_set:
                            continue  # BFS still expands through non-sinks
                        out_key.append(cur_key)
                        out_src.append(start)
                        out_dst.append(v)
                        out_hops.append(hop)
                        out_path.append(s)
                    frontier = sorted(cand)

        def emit():
            return pa.record_batch(
                [
                    pa.array(out_key, type=pa.string()),
                    pa.array(out_src, type=pa.string()),
                    pa.array(out_dst, type=pa.string()),
                    pa.array(out_hops, type=pa.int64()),
                    pa.array(out_path, type=pa.string()),
                ],
                names=[keyed_by, "src", "dst", "hops", "path"],
            )

        for batch in batches:
            keys = batch.column(0).to_pylist()
            ss = batch.column(1).to_pylist()
            oo = batch.column(2).to_pylist()
            for k, s, o in zip(keys, ss, oo):
                if k != cur_key:
                    flush()
                    cur_key = k
                    cur_s = []
                    cur_o = []
                cur_s.append(s)
                cur_o.append(o)
            if len(out_key) > 500_000:
                yield emit()
                out_key, out_src, out_dst, out_hops, out_path = [], [], [], [], []
        flush()
        yield emit()

    # no upstream dropDuplicates: the walker's adjacency SETS absorb
    # duplicate edges, so the dedup exchange+aggregate would only re-shuffle
    # the edge table for nothing (the repartition below is the one shuffle).
    e = edges.select(keyed_by, "s", "o")
    part = e.repartition(F.col(keyed_by)).sortWithinPartitions(keyed_by)
    return part.mapInArrow(
        walk,
        schema=f"{keyed_by} string, src string, dst string, hops long, path string",
    )


#: depart-summary rows above which the crossing joins stop broadcasting and
#: salt the bridge key instead — pair summaries are ~5 small columns, so 2M
#: rows keeps the broadcast well under typical executor/driver headroom.
DEPART_BROADCAST_MAX_ROWS = 2_000_000

#: deterministic salt fan-out for the non-broadcast fallback
_BRIDGE_SALT = 16


def _salted_bridge_join(
    left: DataFrame, right: DataFrame, keys: list[str], spread_cols: list[str]
) -> DataFrame:
    """Skew-safe shuffle join for a bridge-keyed join whose right side
    outgrew the broadcast gate: the left side salts deterministically on
    ``spread_cols`` (columns that vary within a hot key), the right side
    replicates across all salts, and the join runs on keys+salt — a hub
    bridge's rows land on ``_BRIDGE_SALT`` reducers instead of one. The
    explicit salt (not AQE skew handling) keeps the plan straggler-free even
    under localCheckpoint's toRdd materialization, where AQE never runs."""
    l = left.withColumn(
        "__salt", F.pmod(F.xxhash64(*spread_cols), F.lit(_BRIDGE_SALT)).cast("int")
    )
    # generators cannot nest inside expressions — explode bare, no cast
    # (sequence already yields int, matching the pmod cast on the left)
    r = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(_BRIDGE_SALT - 1)))
    )
    return l.join(r, keys + ["__salt"]).drop("__salt")


def _crossing_pairs(frontier: DataFrame, depart: DataFrame) -> DataFrame:
    """Distinct (src, dst) pairs completing ONE more conversation crossing —
    the final level of :func:`reachable_cross_conversation`, where no later
    level consumes witness summaries, so only pair existence matters.

    Adaptive strategy, chosen from one job of exact count statistics (the
    same move a cost-based optimizer makes, with exact inputs):

    EXPANSION (sparse corpora): bridge equi-join frontier x depart, distinct
    pairs. Cost ~ sum_b f_b * d_b expanded rows.

    PIGEONHOLE (dense corpora): if source s has many-witness frontier rows
    to n_f(s) bridges and destination d is departable from n_dd(d) bridges,
    then n_f(s) + n_dd(d) > B (distinct bridges overall) forces a shared
    bridge carrying a many-conversation witness — (s, d) is PROVEN valid
    with no enumeration (a many-witness frontier bridge is valid against
    any depart row). Only the undecided remainder of the |S| x |D| grid is
    checked by explicit join. On everything-reaches-everything corpora this
    replaces an |entities|^3 expansion with an |entities|^2 scan; the
    remainder's cost is re-estimated from the grid and falls back to the
    plain expansion if it would not pay.

    Driver-job discipline: each Spark action costs ~a second of fixed
    orchestration on top of the work, so ALL the statistics — including the
    undecided-cell count ``n_und`` that used to require materializing the
    grid — are fused into ONE overlapped-collect barrier; ``n_und`` is
    computed exactly from the (n_f, n_dd) count-histograms without building
    the grid (#{(s,d): n_f(s)+n_dd(d) <= B} is a histogram convolution).
    On fully-dense corpora (n_und == 0: the pigeonhole proves every cell)
    the final level collapses to the plain endpoint cross product and the
    grid is never built; only the partially-dense remainder path still
    materializes a grid (one eager checkpoint, so its two consumers scan a
    leaf instead of racing a lazy cache). The result itself stays lazy for
    the caller's single materialization.
    """
    invalid = (
        (~F.col("f_many")) & (F.col("n_d") == 1) & (F.col("c_d1") == F.col("f_conv"))
    )
    # ONE stats job: expansion-cost estimate, grid dimensions, bridge count,
    # and the depart row count that gates the broadcast below. Two fused
    # aggregation branches (was five): the per-bridge counts of both sides
    # ride one tagged union — f_cnt*d_cnt is 0 wherever a bridge appears on
    # only one side, so the sum equals the former inner-join sum — and the
    # two distinct-endpoint counts ride a second tagged union. Both inputs
    # are cheap projections of the checkpointed pair summary, so fewer
    # branches means fewer stages, not recomputation.
    per_bridge = (
        frontier.select("bridge", F.lit(1).alias("f"), F.lit(0).alias("d"))
        .unionByName(depart.select("bridge", F.lit(0).alias("f"), F.lit(1).alias("d")))
        .groupBy("bridge")
        .agg(F.sum("f").alias("f_cnt"), F.sum("d").alias("d_cnt"))
    )
    bridge_agg = per_bridge.agg(
        # sums over an EMPTY bridge set must read 0, not NULL (an
        # edge set with no multi-conversation entity reaches here)
        F.coalesce(F.sum(F.col("f_cnt") * F.col("d_cnt")), F.lit(0)).alias(
            "cost_e"
        ),
        F.count("*").alias("b_total"),
        F.coalesce(F.sum("f_cnt"), F.lit(0)).alias("n_front"),
        F.coalesce(F.sum("d_cnt"), F.lit(0)).alias("n_dep_rows"),
    )
    endpoint_agg = (
        frontier.select(F.col("src").alias("v"), F.lit(True).alias("s"))
        .unionByName(
            depart.select(F.col("dst2").alias("v"), F.lit(False).alias("s"))
        )
        .agg(
            F.countDistinct(F.when(F.col("s"), F.col("v"))).alias("n_src"),
            F.countDistinct(F.when(~F.col("s"), F.col("v"))).alias("n_dst"),
        )
    )
    # exact undecided-cell count of the pigeonhole grid, WITHOUT the grid:
    # n_und = #{(s, d) : n_f(s) + n_dd(d) <= B} depends only on the two
    # per-endpoint count-HISTOGRAMS and B, so it reduces to a histogram
    # convolution — entity-scale aggregates collapsing to one row, riding
    # the same stats barrier instead of a second grid-materializing job.
    # one aggregate, no join: summing the f_many flag per src counts that
    # src's many-witness rows and yields the required 0 for srcs that have
    # none (every distinct src appears in the groupBy).
    s_nf = frontier.groupBy("src").agg(
        F.sum(F.col("f_many").cast("long")).alias("n_f")
    )
    hist_f = s_nf.groupBy("n_f").agg(F.count("*").alias("cf"))
    hist_d = (
        depart.groupBy("dst2")
        .agg(F.count("*").alias("n_dd"))
        .groupBy("n_dd")
        .agg(F.count("*").alias("cd"))
    )
    b_total_df = (
        frontier.select("bridge")
        .unionByName(depart.select("bridge"))
        .agg(F.countDistinct("bridge").alias("b"))
    )
    nund_agg = (
        hist_f.crossJoin(hist_d)
        .crossJoin(b_total_df)
        .where(F.col("n_f") + F.col("n_dd") <= F.col("b"))
        .agg(F.coalesce(F.sum(F.col("cf") * F.col("cd")), F.lit(0)).alias("n_und"))
    )
    # the three single-row aggregates are independent scans of the
    # checkpoint-backed summary — collect them as overlapped jobs so the
    # stats barrier costs max(branch), not sum (guide §2.6). Direct
    # per-thread collect: ONE job per branch (checkpoint-then-collect
    # paid two).
    from ..parallel import collect_all

    from types import SimpleNamespace

    b_row, e_row, u_row = (
        rows[0] for rows in collect_all(bridge_agg, endpoint_agg, nund_agg)
    )
    stats = SimpleNamespace(**b_row.asDict(), **e_row.asDict(), **u_row.asDict())
    # the depart summary usually broadcasts (an entity-PAIR summary, conv
    # multiplicity collapsed) — but it grows with the corpus, so past the
    # gate the joins fall back to a deterministic salted shuffle join
    # instead of failing at the broadcast limit.
    dep_small = stats.n_dep_rows <= DEPART_BROADCAST_MAX_ROWS
    depart_b = F.broadcast(depart) if dep_small else depart
    if dep_small:
        expansion_joined = frontier.join(depart_b, "bridge")
    else:
        expansion_joined = _salted_bridge_join(frontier, depart, ["bridge"], ["src"])
    expansion = (
        expansion_joined.where(~invalid)
        .select("src", F.col("dst2").alias("dst"))
        .dropDuplicates()
    )
    cost_e = stats.cost_e or 0
    cost_p = stats.n_src * stats.n_dst
    if cost_e <= cost_p * 4:
        return expansion
    # guard, now free: if checking the undecided remainder costs more than
    # the expansion it replaces, the corpus was not dense enough after all.
    n_und = stats.n_und or 0
    if n_und * (stats.n_front / max(stats.n_src, 1)) > cost_e:
        return expansion
    if n_und == 0:
        # fully dense: the pigeonhole proves EVERY (src, dst) cell, so the
        # final level is the plain endpoint cross product — no grid, no
        # guard job, no cache to manage.
        return (
            frontier.select("src")
            .dropDuplicates()
            .crossJoin(depart.select(F.col("dst2").alias("dst")).dropDuplicates())
        )
    fm = frontier.where(F.col("f_many")).groupBy("src").agg(
        F.count("*").alias("n_f")
    )
    dd = depart.groupBy(F.col("dst2").alias("dst")).agg(F.count("*").alias("n_dd"))
    # eager checkpoint (not a lazy persist): `proven` and `chk` both scan
    # the grid inside the caller's ONE materialization job — a lazy cache
    # would race and double-compute; the checkpoint is the same single
    # barrier the old guard job paid on this path. Its blocks are freed by
    # Spark's ContextCleaner when the frame is garbage-collected, not by the
    # caller's _iter_caches unpersist.
    grid = (
        frontier.select("src")
        .dropDuplicates()
        .crossJoin(depart.select(F.col("dst2").alias("dst")).dropDuplicates())
        .join(F.broadcast(fm), "src", "left")
        .join(F.broadcast(dd), "dst", "left")
        .withColumn(
            "proven",
            F.coalesce(F.col("n_f"), F.lit(0)) + F.coalesce(F.col("n_dd"), F.lit(0))
            > F.lit(stats.b_total),
        )
        .localCheckpoint(eager=True)
    )
    proven = grid.where(F.col("proven")).select("src", "dst")
    chk = (
        grid.where(~F.col("proven"))
        .select("src", "dst")
        .join(frontier, "src")
        .join(depart_b.withColumnRenamed("dst2", "dst"), ["bridge", "dst"])
        .where(~invalid)
        .select("src", "dst")
        .dropDuplicates()
    )
    # proven and chk are disjoint by construction (complement halves of the
    # grid), and each is internally distinct — plain union, no global dedup.
    return proven.unionByName(chk)


def reachable_cross_conversation(
    edges: DataFrame,
    max_hops: int = 4,
    max_crossings: int = 1,
    keyed_by: str = "conv_id",
    sources: DataFrame | None = None,
) -> DataFrame:
    """Cross-procedure propagation with a call-depth bound — the engine's
    continuation tasks at call sites (``Engine.scala:70-127`` params/returns,
    ``EngineConfig.maxCallDepth`` ``Engine.scala:243-244``): a canonical
    entity appearing in two conversations is the same global node, so flow
    leaving conversation A through entity x may continue in conversation B —
    one "crossing" is one call-depth unit.

    Returns DISTINCT global (src, dst, crossings) pairs where dst is
    reachable from src with ≤ max_hops hops inside each conversation and at
    most ``max_crossings`` conversation crossings; ``crossings`` is the
    MINIMUM number needed.

    Scale shape (every depth, not just depth 1): the within-conversation
    closure runs once (grouped BFS, one shuffle); each crossing level is one
    equi-join on the bridging ENTITY between two entity-pair-keyed frames —
    never a conv-carrying join, so hub cost is independent of how many
    conversations the hub entity appears in. Carrying conv_id would make the
    hub quadratic in its conversation count (org_1 in 2/3 of conversations →
    ~(0.66·n_conv)² rows through one key); conv_id only matters through the
    adjacent-segments-differ constraint, and that is fully decidable from a
    bounded WITNESS SUMMARY of each side's conversation set:

      frontier (src → bridge):  (many, conv)         — ≥2 witness convs, or
                                                        the single one
      depart  (bridge → dst):   (n_d, c_d1, c_d2)    — conv count + the two
                                                        smallest convs

    A crossing is invalid only when the frontier has exactly one witness
    conversation and the depart segment exists only in that same one. The
    new frontier's summary is exactly recoverable: with ≥2 frontier
    witnesses the new witness set is the whole depart set; with one witness
    w it is the depart set minus {w} — distinguishable as empty / single /
    many from (n_d, c_d1, c_d2) alone (n_d ≥ 3 ⇒ many survives; n_d ≤ 2 ⇒
    the set is fully known). Induction keeps the summary exact at every
    depth, so results match the conv-carrying formulation row-for-row
    (DuckDB oracle kg_reachable_cross_conv / _conv2).

    Bridge pruning: an entity appearing in only ONE conversation can never
    bridge (its depart segment is forced into the frontier's own
    conversation), so both aggregation inputs are semi-filtered to
    multi-conversation entities first. The multi-conversation entity list is
    derived from the EDGE table (identical incidence, ~20x smaller than the
    closure) and broadcast, so the pruning runs map-side BEFORE the closure's
    shuffles — on corpora where hubs are rare this drops most of the closure
    before the wide aggregates.

    Post-closure plan (one wide pass, not three): a single window over the
    closure produces the per-(src, dst) PAIR SUMMARY (distinct-conv count +
    two smallest convs); depth-0 results, the depart summary and the initial
    frontier are all broadcast-filtered projections of it. The FINAL
    crossing level needs no witness bookkeeping and dispatches to
    :func:`_crossing_pairs`, which picks pigeonhole-proof or expansion-join
    from exact count statistics.
    """
    e_in = edges.persist()  # shared by the BFS and the bridge-entity scan
    _iter_caches: list[DataFrame] = [e_in]
    # the within-conversation closure feeds ONLY the pair summary here, so
    # the common path runs the fused walker (_pair_summary_partials):
    # closure rows combine into (sum, min, max) partials before leaving
    # Python instead of shipping the full closure to the JVM aggregate.
    # Mega-groups keep the size-routed split — their closure comes from the
    # join loop and contributes raw (cnt=1) rows to the same aggregate.
    small_edges, big_edges = _split_big_groups(e_in, keyed_by, GROUP_EDGE_LIMIT)
    if big_edges is None:
        pair_part = _pair_summary_partials(e_in, max_hops, keyed_by)
    else:
        within = reachable_within_grouped(
            small_edges, max_hops=max_hops, keyed_by=keyed_by
        ).unionByName(
            reachable_within(big_edges, max_hops=max_hops, keyed_by=keyed_by)
        )
        pair_part = within.select(
            "src",
            "dst",
            F.lit(1).cast("long").alias("__cnt"),
            F.col(keyed_by).alias("__cmin"),
            F.col(keyed_by).alias("__cmax"),
        )
    # ``sources`` (single-column 'src') restricts propagation to flows
    # STARTING at the given node set — the reference's query shape, and what
    # keeps deep-crossing output (and its conv-carrying DuckDB oracle)
    # tractable on hub-dense graphs. The restriction applies to the origin
    # only; bridge and depart segments stay unrestricted.
    src_b = (
        None
        if sources is None
        else F.broadcast(sources.select("src").dropDuplicates())
    )
    # ONE hash aggregate folds the (already-combined) partials into the
    # pair summary: per (src, dst), the distinct-conv count and enough
    # witness-conversation identity for the summary algebra. The closure is
    # DISTINCT on (key, src, dst), so the counts sum to the distinct-conv
    # count and min/max are over distinct convs. c_d2 (the second-smallest
    # witness conv) is consulted by the crossing algebra ONLY when
    # n_d == 2 — where {min, max} IS the whole set — which is what lets the
    # whole summary be (sum, min, max)-combinable in the first place (the
    # former formulation sorted a dense_rank window over the full closure).
    # Depth-0 results, the depart summary AND the initial frontier are all
    # broadcast-filtered projections of this summary.
    #
    # Eager checkpoint, deliberately: the fused stats job in
    # _crossing_pairs evaluates its aggregation branches over
    # frontier/depart; with a lazily-persisted pair_sum those branches
    # race to materialize the cache and each recomputes the closure
    # upstream (measured 3-4x closure replay at sf0.1). One materialization
    # here makes every downstream branch a scan of a compact leaf.
    pair_sum_def = (
        pair_part.groupBy("src", "dst")
        .agg(
            F.sum("__cnt").alias("n_d"),
            F.min("__cmin").alias("c_d1"),
            F.max("__cmax").alias("c_d2_max"),
        )
        .select(
            "src",
            "dst",
            "n_d",
            "c_d1",
            F.when(F.col("n_d") == 2, F.col("c_d2_max")).alias("c_d2"),
        )
    )
    if max_crossings >= 1:
        # entities seen in >= 2 distinct conversations — the only possible
        # bridge points (endpoint role is irrelevant for the >=2 test).
        # Computed from the EDGE table, not the closure: every edge puts both
        # endpoints into the closure at hop 1, so the entity<->conversation
        # incidence sets coincide (edge incidence is a superset if self-loop
        # pruning drops a node, and a superset only weakens pruning, never
        # correctness). The edge table is ~20x smaller than the 4-hop
        # closure, and the resulting entity list is small enough to
        # broadcast into every semi-join below — pruning BEFORE the shuffles.
        multi_def = (
            e_in.select(F.col(keyed_by).alias("__c"), F.col("o").alias("e"))
            .unionByName(
                e_in.select(F.col(keyed_by).alias("__c"), F.col("s").alias("e"))
            )
            .groupBy("e")
            .agg(F.countDistinct("__c").alias("nc"))
            .where(F.col("nc") >= 2)
            .select("e")
        )
        # the two materializations are independent (closure summary vs edge
        # incidence, both over the persisted-and-materialized edge cache):
        # overlap them so the smaller job back-fills the closure job's task
        # tail instead of serializing behind it (guide §2.6 discipline).
        from ..parallel import eager_checkpoints

        pair_sum, multi = eager_checkpoints(pair_sum_def, multi_def)
    else:
        pair_sum = pair_sum_def.localCheckpoint(eager=True)
    ps_from = (
        pair_sum if src_b is None else pair_sum.join(src_b, "src", "left_semi")
    )
    # depth 0: pairs reachable inside a single conversation
    levels = [ps_from.select("src", "dst").withColumn("crossings", F.lit(0))]
    if max_crossings >= 1:
        multi_b = F.broadcast(multi)
        # depart summary: per (bridge, dst2) the conv count and two smallest
        # convs — pair_sum rows whose src can bridge. Reused at every depth.
        # No persist: a scan of the checkpointed summary plus one broadcast
        # probe — cheaper to recompute than to copy into the block store.
        depart = pair_sum.join(
            multi_b, pair_sum.src == multi.e, "left_semi"
        ).select(
            F.col("src").alias("bridge"),
            F.col("dst").alias("dst2"),
            "n_d",
            "c_d1",
            "c_d2",
        )
        # broadcast gate for the INTERMEDIATE-level witness joins (the final
        # level re-derives its own gate from the fused stats inside
        # _crossing_pairs): one count on the checkpoint-backed summary — and
        # past the gate the expansion joins salt instead of blowing the
        # broadcast.
        dep_small = (
            max_crossings < 2 or depart.count() <= DEPART_BROADCAST_MAX_ROWS
        )
        # initial frontier summary: per (src, bridge=dst) of the closure,
        # many-or-single witness of the (single-segment) path so far.
        frontier = ps_from.join(
            multi_b, ps_from.dst == multi.e, "left_semi"
        ).select(
            "src",
            F.col("dst").alias("bridge"),
            (F.col("n_d") >= 2).alias("f_many"),
            F.col("c_d1").alias("f_conv"),
        )
        for depth in range(1, max_crossings + 1):
            if depth == max_crossings:
                # FINAL level: no further crossing consumes witness
                # summaries, so only the distinct (src, dst) pairs are
                # needed — dispatch to the adaptive pair step (pigeonhole
                # fast path on dense corpora, plain expansion on sparse).
                lv = _crossing_pairs(frontier, depart)
                levels.append(lv.withColumn("crossings", F.lit(depth)))
                break
            # INTERMEDIATE level: the next crossing needs full witness
            # summaries, so run the expansion join with the witness algebra.
            # Explicit broadcast: the join key (bridge entity) is inherently
            # low-cardinality/skewed — a sort-merge join stalls on hub
            # stragglers. depart is an entity-PAIR summary (conv multiplicity
            # already collapsed); past the gate, the deterministic salted
            # join spreads each hub bridge over _BRIDGE_SALT reducers.
            if dep_small:
                expanded = frontier.join(F.broadcast(depart), "bridge")
            else:
                expanded = _salted_bridge_join(
                    frontier, depart, ["bridge"], ["src"]
                )
            joined = expanded.where(
                # invalid only when both sides are pinned to the same conv
                ~(
                    (~F.col("f_many"))
                    & (F.col("n_d") == 1)
                    & (F.col("c_d1") == F.col("f_conv"))
                )
            )
            step = joined.select(
                "src",
                "dst2",
                # new witness set: depart set (frontier many) or depart \ {w}
                F.when(F.col("f_many"), F.col("n_d") >= 2)
                .when(F.col("n_d") >= 3, F.lit(True))
                .when(
                    (F.col("n_d") == 2)
                    & (F.col("c_d1") != F.col("f_conv"))
                    & (F.col("c_d2") != F.col("f_conv")),
                    F.lit(True),
                )
                .otherwise(F.lit(False))
                .alias("w_many"),
                F.when(F.col("f_many") | (F.col("n_d") >= 3), F.col("c_d1"))
                .when(
                    (F.col("n_d") == 2) & (F.col("c_d1") == F.col("f_conv")),
                    F.col("c_d2"),
                )
                .otherwise(F.col("c_d1"))
                .alias("w_conv"),
            )
            nxt = step.groupBy("src", F.col("dst2").alias("bridge")).agg(
                (
                    F.max(F.col("w_many").cast("int")).cast("boolean")
                    | (F.countDistinct(F.when(~F.col("w_many"), F.col("w_conv"))) >= 2)
                ).alias("f_many"),
                F.min(F.when(~F.col("w_many"), F.col("w_conv"))).alias("f_conv"),
            )
            # when f_many is true the single-conv field is meaningless; pin it
            # so downstream equality tests never consult a stale value.
            nxt = nxt.withColumn(
                "f_conv", F.when(F.col("f_many"), F.lit(None)).otherwise(F.col("f_conv"))
            ).persist()
            _iter_caches.append(nxt)
            levels.append(
                nxt.select("src", F.col("bridge").alias("dst"))
                .dropDuplicates()
                .withColumn("crossings", F.lit(depth))
            )
            # next frontier only needs bridge-capable endpoints
            frontier = nxt.join(multi_b, nxt.bridge == multi.e, "left_semi")
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    result = out.groupBy("src", "dst").agg(
        F.min("crossings").cast("long").alias("crossings")
    )
    # single eager materialization, then release the iteration caches
    # (callers get a checkpointed frame whose lineage no longer references
    # the unpersisted intermediates). The plan reaching this point has no
    # skew-prone join left un-hinted (the expansion is broadcast, the dense
    # path is grid projections), so the static physical strategy the
    # toRdd checkpoint uses is the same one AQE would pick.
    result = result.localCheckpoint(eager=True)
    for df in _iter_caches:
        df.unpersist()
    return result


def flow_paths_grouped(
    edges: DataFrame,
    max_hops: int = 4,
    keyed_by: str = "conv_id",
    sources: DataFrame | None = None,
    max_paths_per_group: int = 10_000_000,
) -> DataFrame:
    """Path-returning reachability — the ``reachableByFlows`` analog: where
    :func:`reachable_within_grouped` returns (src, dst) *pairs*, this returns
    the EVIDENCE — every simple path (no repeated node, so no cycles and no
    self-loops) of length 1..max_hops, as the reference's flow results carry
    the full element path per flow (``dataflowengineoss/.../language/
    TrackingPoint.scala:48-66`` → ``queryengine/Engine.scala:255-331``; path
    dedup discipline ``Engine.scala:217-239``).

    Output: (keyed_by, src, dst, hops, path) with ``path`` the '->'-joined
    node sequence — a deterministic set, so it hash-checks against a DuckDB
    recursive-CTE oracle enumerating the same simple paths.

    Scale shape: one shuffle groups each conversation's edges; enumeration is
    conversation-local (graphs are small by construction — same skew argument
    as reachable_within_grouped). Path count is bounded by V·b^max_hops per
    group; max_hops=4 keeps the reference's default call-depth bound.

    ``sources`` (optional single-column 'src' DataFrame) restricts the
    enumeration to the given start nodes — the shape the reference actually
    runs (flows are always asked FROM a query-selected sink/source set,
    never all-pairs: ``MallocMemcpyTests.scala:30-43`` starts from
    ``cpg.call("malloc")``). On hub-dense graphs use this or
    :func:`flow_witness_grouped`; unrestricted enumeration is
    output-exponential by nature — any group whose simple-path count exceeds
    ``max_paths_per_group`` raises instead of silently producing an
    executor-OOM-sized output (restrict sources or switch to the witness
    operator).
    """
    src_set = _collect_node_set(sources, "src")

    def walk(batches):
        import pyarrow as pa

        out_k: list = []
        out_src: list = []
        out_dst: list = []
        out_hops: list = []
        out_path: list = []
        cur_key = None
        adj: dict = {}

        def flush():
            if cur_key is None or not adj:
                return
            starts = adj if src_set is None else [s for s in adj if s in src_set]
            n_group = 0
            for start in starts:
                # iterative DFS carrying the path; a node may appear on
                # many paths but never twice on one (simple-path
                # discipline)
                stack: list = [(start,)]
                while stack:
                    path = stack.pop()
                    node = path[-1]
                    for nb in adj.get(node, ()):
                        if nb in path:
                            continue
                        new = path + (nb,)
                        out_k.append(cur_key)
                        out_src.append(start)
                        out_dst.append(nb)
                        out_hops.append(len(new) - 1)
                        out_path.append("->".join(new))
                        n_group += 1
                        if len(new) <= max_hops:
                            stack.append(new)
                if n_group > max_paths_per_group:
                    raise ValueError(
                        f"flow_paths_grouped: group {cur_key!r} exceeds "
                        f"max_paths_per_group={max_paths_per_group} simple "
                        "paths; restrict sources= or use flow_witness_grouped"
                    )

        def emit():
            return pa.record_batch(
                [
                    pa.array(out_k, type=pa.string()),
                    pa.array(out_src, type=pa.string()),
                    pa.array(out_dst, type=pa.string()),
                    pa.array(out_hops, type=pa.int64()),
                    pa.array(out_path, type=pa.string()),
                ],
                names=[keyed_by, "src", "dst", "hops", "path"],
            )

        for batch in batches:
            keys = batch.column(0).to_pylist()
            ss = batch.column(1).to_pylist()
            oo = batch.column(2).to_pylist()
            for k, s, o in zip(keys, ss, oo):
                if k != cur_key:
                    flush()
                    cur_key = k
                    adj = {}
                if s != o:
                    adj.setdefault(s, set()).add(o)
            if len(out_k) > 500_000:
                yield emit()
                out_k, out_src, out_dst, out_hops, out_path = [], [], [], [], []
        flush()
        yield emit()

    # no upstream dropDuplicates — the adjacency SETS absorb duplicate
    # edges, so the dedup exchange+aggregate would only re-shuffle the
    # edge table for nothing (same reasoning as reachable_within_grouped).
    e = edges.select(keyed_by, "s", "o")
    part = e.repartition(F.col(keyed_by)).sortWithinPartitions(keyed_by)
    return part.mapInArrow(
        walk,
        schema=f"{keyed_by} string, src string, dst string, hops long, path string",
    )


# Above this node count the dense n*n matrix stops paying for itself;
# fall back to the per-start set BFS (sparse-friendly, no n^2 memory).
_DENSE_MAX = 4096


def _group_closure_kernel(max_hops: int):
    """(s_list, o_list) -> (names, ii, jj): the bounded-closure kernel for
    ONE group's edge list — dense boolean-matmul closure for small node
    sets (the whole conversation's BFS in a handful of BLAS calls; float32
    matmul is BLAS-fast and exact for path counts < 2^24), per-start set
    BFS past ``_DENSE_MAX`` (no n² memory)."""
    import numpy as np

    def kernel(cur_s: list, cur_o: list):
        idx: dict = {}
        n = 0
        for v in cur_s:
            if v not in idx:
                idx[v] = n
                n += 1
        for v in cur_o:
            if v not in idx:
                idx[v] = n
                n += 1
        names = [None] * n
        for v, i in idx.items():
            names[i] = v
        if n <= _DENSE_MAX:
            A = np.zeros((n, n), dtype=np.float32)
            A[[idx[v] for v in cur_s], [idx[v] for v in cur_o]] = 1.0
            reach = A > 0
            P = reach
            for _ in range(max_hops - 1):
                P = (P.astype(np.float32) @ A) > 0
                new = P & ~reach
                if not new.any():
                    break
                reach |= P
            ii, jj = np.nonzero(reach)
            return names, ii.tolist(), jj.tolist()
        adj: dict = {}
        for s, o in zip(cur_s, cur_o):
            adj.setdefault(s, set()).add(o)
        out_i: list = []
        out_j: list = []
        for start in adj:
            reached: set = set()
            frontier = {start}
            for _ in range(max_hops):
                nxt = set()
                for node in frontier:
                    for m2 in adj.get(node, ()):
                        if m2 not in reached:
                            nxt.add(m2)
                reached |= nxt
                frontier = nxt
                if not frontier:
                    break
            si = idx[start]
            out_i += [si] * len(reached)
            out_j += [idx[v] for v in reached]
        return names, out_i, out_j

    return kernel


def reachable_within_grouped(
    edges: DataFrame, max_hops: int = 4, keyed_by: str = "conv_id"
) -> DataFrame:
    """Same contract as :func:`reachable_within`, exploiting that the edge
    set is partitioned by ``keyed_by`` (conversation-local graphs): one
    shuffle groups each conversation's edges, then a vectorized BFS
    computes the bounded closure group-locally — zero iterative shuffles.

    This is the reference's per-task recursive expansion with memoization
    (``Engine.scala:255-331``), run as ``mapInArrow`` over a
    key-sorted repartition rather than ``applyInPandas``: one Python call
    and one output batch stream per PARTITION (hundreds of conversations)
    instead of a pandas frame per group — the per-group slice/construct
    overhead of 5000 tiny groups was a measured ~25% of the closure wall.
    Group rows are contiguous after ``sortWithinPartitions``, so the
    walker just watches the key change. The global join-loop variant above
    remains the fallback for graphs that do NOT partition by a key.
    Mega-conversation skew: one group = one task either way — ``*_auto``
    routes those to the join loop.
    """
    kernel = _group_closure_kernel(max_hops)

    def walk(batches):
        import pyarrow as pa

        out_key: list = []
        out_src: list = []
        out_dst: list = []
        cur_key = None
        cur_s: list = []
        cur_o: list = []

        def flush():
            if cur_key is None or not cur_s:
                return
            names, ii, jj = kernel(cur_s, cur_o)
            out_key.extend([cur_key] * len(ii))
            out_src.extend(names[i] for i in ii)
            out_dst.extend(names[j] for j in jj)

        def emit():
            return pa.record_batch(
                [
                    pa.array(out_key, type=pa.string()),
                    pa.array(out_src, type=pa.string()),
                    pa.array(out_dst, type=pa.string()),
                ],
                names=[keyed_by, "src", "dst"],
            )

        for batch in batches:
            keys = batch.column(0).to_pylist()
            ss = batch.column(1).to_pylist()
            oo = batch.column(2).to_pylist()
            for k, s, o in zip(keys, ss, oo):
                if k != cur_key:
                    flush()
                    cur_key = k
                    cur_s = []
                    cur_o = []
                cur_s.append(s)
                cur_o.append(o)
            if len(out_key) > 500_000:
                yield emit()
                out_key, out_src, out_dst = [], [], []
        flush()
        yield emit()

    # no upstream dropDuplicates: duplicate edges are idempotent in both
    # kernel paths (matrix assignment / adjacency sets), so the dedup
    # exchange+aggregate would only re-shuffle the edge table for nothing.
    e = edges.select(keyed_by, "s", "o")
    part = e.repartition(F.col(keyed_by)).sortWithinPartitions(keyed_by)
    return part.mapInArrow(
        walk, schema=f"{keyed_by} string, src string, dst string"
    )


def _pair_summary_partials(
    edges: DataFrame, max_hops: int, keyed_by: str = "conv_id"
) -> DataFrame:
    """Fused closure + map-side pair-summary partials for
    :func:`reachable_cross_conversation`: the grouped BFS walker, but
    instead of shipping every (key, src, dst) closure row to the JVM (7.1M
    rows at sf0.1) it combines rows ACROSS the partition's conversations
    into (src, dst, __cnt, __cmin, __cmax) partials before they leave
    Python — the same (sum, min, max)-combinable state the pair-summary
    aggregate folds, so ``groupBy(src, dst).agg(sum, min, max)`` over these
    partials equals the aggregate over raw closure rows EXACTLY (each
    conversation lives in one partition, so per-pair conv sets partition
    cleanly). The partial dict is flushed past a row bound, keeping task
    memory bounded the way spillable hash-agg state is — a flushed pair
    just contributes one more combinable partial.
    """
    kernel = _group_closure_kernel(max_hops)
    _FLUSH = 1_000_000

    def walk(batches):
        import pyarrow as pa

        acc: dict = {}
        cur_key = None
        cur_s: list = []
        cur_o: list = []

        def flush_group():
            if cur_key is None or not cur_s:
                return
            names, ii, jj = kernel(cur_s, cur_o)
            k = cur_key
            for i, j in zip(ii, jj):
                pair = (names[i], names[j])
                st = acc.get(pair)
                if st is None:
                    acc[pair] = [1, k, k]
                else:
                    st[0] += 1
                    if k < st[1]:
                        st[1] = k
                    elif k > st[2]:
                        st[2] = k

        def emit():
            return pa.record_batch(
                [
                    pa.array([p[0] for p in acc], type=pa.string()),
                    pa.array([p[1] for p in acc], type=pa.string()),
                    pa.array([v[0] for v in acc.values()], type=pa.int64()),
                    pa.array([v[1] for v in acc.values()], type=pa.string()),
                    pa.array([v[2] for v in acc.values()], type=pa.string()),
                ],
                names=["src", "dst", "__cnt", "__cmin", "__cmax"],
            )

        for batch in batches:
            keys = batch.column(0).to_pylist()
            ss = batch.column(1).to_pylist()
            oo = batch.column(2).to_pylist()
            for k, s, o in zip(keys, ss, oo):
                if k != cur_key:
                    flush_group()
                    cur_key = k
                    cur_s = []
                    cur_o = []
                cur_s.append(s)
                cur_o.append(o)
            if len(acc) > _FLUSH:
                yield emit()
                acc = {}
        flush_group()
        yield emit()

    # no upstream dropDuplicates — see reachable_within_grouped: the
    # kernel absorbs duplicate edges, and each (pair, conv) contributes
    # once per group regardless of edge multiplicity.
    e = edges.select(keyed_by, "s", "o")
    part = e.repartition(F.col(keyed_by)).sortWithinPartitions(keyed_by)
    return part.mapInArrow(
        walk,
        schema="src string, dst string, __cnt long, __cmin string, __cmax string",
    )


def reaching_defs_fields(defs: DataFrame, uses: DataFrame) -> DataFrame:
    """Field-level reaching definitions — the UsageAnalyzer analog
    (``dataflowengineoss/.../reachingdef/UsageAnalyzer.scala:10-69``: a def
    reaches a use only when the variables match AND the def's access path
    covers the use's — EXACT or PREFIX under ``AccessPath.matchAndDiff``).

    defs: (conv_id, turn_order, variable, path) — writes, JSONPath strings
          (may contain ``[*]`` wildcards: VariableAccess).
    uses: (conv_id, turn_order, variable, path) — reads.

    Returns (conv_id, variable, use_path, src_order, dst_order): for every
    use, the LATEST earlier matching def — the linear-CFG collapse of
    gen/kill with strong updates (any later matching write supersedes
    earlier ones, the same per-(conv, key) lag discipline as
    :func:`reaching_def_edges`, now keyed by access-path containment
    instead of bare variable identity).

    Scale shape: one equi-join keyed (conv_id, variable) — conversation-
    local like every dataflow join here, hub variables bounded by
    conversation size — with the path-match predicate evaluated columnar
    JVM-side (functions.access_path; no Python)."""
    from ..functions import access_path as AP

    d = defs.select(
        "conv_id",
        "variable",
        F.col("turn_order").cast("long").alias("src_order"),
        AP.elements("path").alias("__d_el"),
    )
    u = uses.select(
        "conv_id",
        "variable",
        F.col("turn_order").cast("long").alias("dst_order"),
        F.col("path").alias("use_path"),
        AP.elements("path").alias("__u_el"),
    )
    kind = AP.match_and_diff(F.col("__d_el"), F.col("__u_el")).getField("kind")
    return (
        d.join(u, ["conv_id", "variable"])
        .where(F.col("src_order") < F.col("dst_order"))
        .where(kind.isin("EXACT", "A_PREFIX_OF_B"))
        .groupBy("conv_id", "variable", "use_path", "dst_order")
        .agg(F.max("src_order").alias("src_order"))
        .select("conv_id", "variable", "use_path", "src_order", "dst_order")
    )


def reaching_defs_fields_ext(defs: DataFrame, uses: DataFrame) -> DataFrame:
    """Field-level reaching defs WITH the engine's EXTENDED over-approximation
    mode (``AccessPath.scala`` EXTENDED_MATCH consumed by
    ``queryengine/Engine.scala:255-331``): beyond the EXACT/PREFIX covers of
    :func:`reaching_defs_fields`, a def whose access path EXTENDS the use's
    (write to ``$.x.a.b`` vs read of ``$.x.a``) MAY affect the read — it is
    admitted with the leftover element suffix carried, and it is a WEAK
    update: it neither kills nor is killed by position alone, only a later
    covering (strong) def supersedes it.

    Same inputs as :func:`reaching_defs_fields`. Returns one row per
    surviving (def, use) influence:
      (conv_id, variable, use_path, src_order, dst_order, match_kind,
       leftover)
    where match_kind is 'COVER' (the latest EXACT/PREFIX def — at most one
    per use, the strong-update winner) or 'EXTENDED' (every extending def
    not overwritten by a later strong def), and leftover is the '.'-joined
    unmatched def suffix ('' for COVER).

    Scale shape: identical to the base operator — one (conv_id, variable)
    equi-join with the path algebra evaluated columnar JVM-side, plus one
    broadcast-sized aggregation join for the strong-kill filter."""
    from ..functions import access_path as AP

    d = defs.dropDuplicates().select(
        "conv_id",
        "variable",
        F.col("turn_order").cast("long").alias("src_order"),
        AP.elements("path").alias("__d_el"),
    )
    u = uses.dropDuplicates().select(
        "conv_id",
        "variable",
        F.col("turn_order").cast("long").alias("dst_order"),
        F.col("path").alias("use_path"),
        AP.elements("path").alias("__u_el"),
    )
    md = AP.match_and_diff(F.col("__d_el"), F.col("__u_el"))
    j = (
        d.join(u, ["conv_id", "variable"])
        .where(F.col("src_order") < F.col("dst_order"))
        .withColumn("__kind", md.getField("kind"))
        .withColumn("__diff", md.getField("diff"))
        .where(F.col("__kind") != "NO_MATCH")
    )
    use_key = ["conv_id", "variable", "use_path", "dst_order"]
    strong = (
        j.where(F.col("__kind").isin("EXACT", "A_PREFIX_OF_B"))
        .groupBy(*use_key)
        .agg(F.max("src_order").alias("src_order"))
    )
    cover = strong.select(
        *use_key,
        "src_order",
        F.lit("COVER").alias("match_kind"),
        F.lit("").alias("leftover"),
    )
    ext = (
        j.where(F.col("__kind") == "B_PREFIX_OF_A")
        .join(
            strong.select(*use_key, F.col("src_order").alias("__strong_src")),
            use_key,
            "left",
        )
        .where(
            F.col("__strong_src").isNull()
            | (F.col("src_order") > F.col("__strong_src"))
        )
        .select(
            *use_key,
            "src_order",
            F.lit("EXTENDED").alias("match_kind"),
            F.concat_ws(".", "__diff").alias("leftover"),
        )
        .dropDuplicates()
    )
    out_cols = [
        "conv_id", "variable", "use_path", "src_order", "dst_order",
        "match_kind", "leftover",
    ]
    return cover.select(*out_cols).unionByName(ext.select(*out_cols))


def reachable_within_auto(
    edges: DataFrame,
    max_hops: int = 4,
    keyed_by: str = "conv_id",
    group_edge_limit: int = 2_000_000,
) -> DataFrame:
    """Size-routed bounded closure — the shipped answer to the grouped
    BFS's one-task-per-group ceiling. :func:`reachable_within_grouped` is
    the fast path (one shuffle, group-local numpy BFS) but a single
    pathological mega-conversation becomes one task's memory and wall
    budget, and AQE cannot split an applyInPandas group. So: ONE
    aggregation measures per-group edge counts; groups at or below
    ``group_edge_limit`` take the grouped BFS, larger ones take the
    iterative global join loop (:func:`reachable_within`), whose per-hop
    equi-joins shuffle on (key, node) — AQE splits skewed keys there and
    no task ever holds a whole group. Identical output either way
    (both compute the distinct ≤ max_hops closure); the union is a plan
    branch, not a correctness fork.

    The default limit (~2M edges) keeps the dense-closure working set of a
    single pandas group comfortably inside one executor task; tune down
    for small executors or up for fat ones.
    """
    small_edges, big_edges = _split_big_groups(edges, keyed_by, group_edge_limit)
    if big_edges is None:
        return reachable_within_grouped(edges, max_hops=max_hops, keyed_by=keyed_by)
    return reachable_within_grouped(
        small_edges, max_hops=max_hops, keyed_by=keyed_by
    ).unionByName(
        reachable_within(big_edges, max_hops=max_hops, keyed_by=keyed_by)
    )


# ---------------------------------------------------------------------------
# Join-loop formulations + size routing for every grouped operator
# ---------------------------------------------------------------------------
# applyInPandas sends one GROUP to one TASK; AQE cannot split it, so a
# pathological mega-conversation is one straggler/OOM task at 100x scale.
# Each grouped operator therefore gets (a) a join-loop formulation whose
# per-iteration work is plain shuffled joins/aggregations (skewed keys split
# by AQE, no task ever holds a whole group) and (b) an ``*_auto`` router:
# ONE count aggregation splits groups at ``group_edge_limit`` edges, small
# groups take the one-task BFS (faster constant), big ones the join loop.
# Both formulations compute identical rows — the union is a plan branch,
# not a correctness fork (asserted by tests/test_traversal_dataflow.py's
# mega-group fixtures).

#: default per-group edge-count ceiling for the one-task grouped operators
GROUP_EDGE_LIMIT = 2_000_000


def _split_big_groups(
    edges: DataFrame, keyed_by: str, group_edge_limit: int
) -> tuple[DataFrame, DataFrame | None]:
    """(small_edges, big_edges) split on per-group edge count; big_edges is
    None when every group fits (the overwhelmingly common case — the split
    then costs one aggregation and no extra scan)."""
    counts = edges.groupBy(keyed_by).agg(F.count("*").alias("__n"))
    big = counts.where(F.col("__n") > group_edge_limit).select(keyed_by)
    if big.isEmpty():
        return edges, None
    big_b = F.broadcast(big)
    return (
        edges.join(big_b, keyed_by, "left_anti"),
        edges.join(big_b, keyed_by, "left_semi"),
    )


def _unpersist_all(caches: list[DataFrame]) -> None:
    for df in caches:
        df.unpersist()


def flow_witness_join(
    edges: DataFrame,
    max_hops: int = 4,
    keyed_by: str = "conv_id",
    sources: DataFrame | None = None,
    sinks: DataFrame | None = None,
) -> DataFrame:
    """:func:`flow_witness_grouped` as a distributed join loop — identical
    rows, no one-task-per-group ceiling. The level-synchronized recurrence
    maps directly onto DataFrame ops: level L = (frontier join edges on the
    tail node) → anti-join against every earlier level's reached set → a
    min(path) aggregation per (key, src, node). Appending a child preserves
    string order (the '-' separator sorts below every name character), so
    the per-level min IS min over all incoming parents — the same argument
    the grouped BFS and the DuckDB oracle rely on.

    Scale shape: each level is one shuffle on (key, src, node); hub fan-out
    skew lands on a composite key AQE can split, and no executor ever
    materializes a whole conversation."""
    caches: list[DataFrame] = []
    e = (
        edges.select(keyed_by, "s", "o")
        .where(F.col("s") != F.col("o"))
        .dropDuplicates([keyed_by, "s", "o"])
        .persist()
    )
    caches.append(e)
    lv = e
    if sources is not None:
        lv = lv.join(
            F.broadcast(sources.select(F.col("src").alias("s")).dropDuplicates()),
            "s",
            "left_semi",
        )
    frontier = (
        lv.groupBy(keyed_by, F.col("s").alias("src"), F.col("o").alias("node"))
        .agg(F.min(F.concat("s", F.lit("->"), "o")).alias("path"))
        .persist()
    )
    caches.append(frontier)
    # reached = start itself + every node seen at any earlier level
    reached = (
        frontier.select(keyed_by, "src", F.col("src").alias("node"))
        .dropDuplicates()
        .unionByName(frontier.select(keyed_by, "src", "node"))
        .persist()
    )
    caches.append(reached)
    out_levels = [frontier.withColumn("hops", F.lit(1))]
    for hop in range(2, max_hops + 1):
        cand = (
            frontier.alias("f")
            .join(
                e.alias("e"),
                (F.col(f"f.{keyed_by}") == F.col(f"e.{keyed_by}"))
                & (F.col("f.node") == F.col("e.s")),
            )
            .select(
                F.col(f"f.{keyed_by}").alias(keyed_by),
                F.col("f.src").alias("src"),
                F.col("e.o").alias("node"),
                F.concat("f.path", F.lit("->"), "e.o").alias("path"),
            )
            .join(reached, [keyed_by, "src", "node"], "left_anti")
            .groupBy(keyed_by, "src", "node")
            .agg(F.min("path").alias("path"))
            .persist()
        )
        caches.append(cand)
        if cand.isEmpty():
            break
        out_levels.append(cand.withColumn("hops", F.lit(hop)))
        new_reached = reached.unionByName(
            cand.select(keyed_by, "src", "node")
        ).persist()
        caches.append(new_reached)
        reached = new_reached
        frontier = cand
    out = out_levels[0]
    for lvf in out_levels[1:]:
        out = out.unionByName(lvf)
    if sinks is not None:
        out = out.join(
            F.broadcast(sinks.select(F.col("dst").alias("node")).dropDuplicates()),
            "node",
            "left_semi",
        )
    result = out.select(
        keyed_by,
        "src",
        F.col("node").alias("dst"),
        F.col("hops").cast("long").alias("hops"),
        "path",
    ).localCheckpoint(eager=True)
    _unpersist_all(caches)
    return result


def flow_paths_join(
    edges: DataFrame,
    max_hops: int = 4,
    keyed_by: str = "conv_id",
    sources: DataFrame | None = None,
    max_paths_per_group: int = 10_000_000,
) -> DataFrame:
    """:func:`flow_paths_grouped` as a distributed join loop: level L joins
    the level-(L-1) path frontier with the edge table and drops extensions
    revisiting a path node (``array_contains`` over the split path — the
    simple-path discipline, evaluated JVM-side). Every extension row IS an
    output row, so no dedup is needed anywhere.

    The per-group output guard survives routing: each level's one count
    aggregation (also the emptiness check) accumulates per-key path counts
    and raises past ``max_paths_per_group`` — same contract as the grouped
    operator, enforced from exact distributed counts instead of one task's
    list length."""
    caches: list[DataFrame] = []
    e = (
        edges.select(keyed_by, "s", "o")
        .where(F.col("s") != F.col("o"))
        .dropDuplicates([keyed_by, "s", "o"])
        .persist()
    )
    caches.append(e)
    lv = e
    if sources is not None:
        lv = lv.join(
            F.broadcast(sources.select(F.col("src").alias("s")).dropDuplicates()),
            "s",
            "left_semi",
        )
    frontier = lv.select(
        keyed_by,
        F.col("s").alias("src"),
        F.col("o").alias("dst"),
        F.concat("s", F.lit("->"), "o").alias("path"),
    ).persist()
    caches.append(frontier)
    totals: dict[str, int] = {}

    def _account(level: DataFrame) -> int:
        rows = level.groupBy(keyed_by).agg(F.count("*").alias("n")).collect()
        for r in rows:
            totals[r[0]] = totals.get(r[0], 0) + r[1]
            if totals[r[0]] > max_paths_per_group:
                raise ValueError(
                    f"flow_paths_join: group {r[0]!r} exceeds "
                    f"max_paths_per_group={max_paths_per_group} simple paths; "
                    "restrict sources= or use the witness operator"
                )
        return sum(r[1] for r in rows)

    _account(frontier)
    out_levels = [frontier.withColumn("hops", F.lit(1))]
    for hop in range(2, max_hops + 1):
        nxt = (
            frontier.alias("f")
            .join(
                e.alias("e"),
                (F.col(f"f.{keyed_by}") == F.col(f"e.{keyed_by}"))
                & (F.col("f.dst") == F.col("e.s")),
            )
            .where(~F.array_contains(F.split("f.path", "->"), F.col("e.o")))
            .select(
                F.col(f"f.{keyed_by}").alias(keyed_by),
                F.col("f.src").alias("src"),
                F.col("e.o").alias("dst"),
                F.concat("f.path", F.lit("->"), "e.o").alias("path"),
            )
            .persist()
        )
        caches.append(nxt)
        if _account(nxt) == 0:
            break
        out_levels.append(nxt.withColumn("hops", F.lit(hop)))
        frontier = nxt
    out = out_levels[0]
    for lvf in out_levels[1:]:
        out = out.unionByName(lvf)
    result = out.select(
        keyed_by, "src", "dst", F.col("hops").cast("long").alias("hops"), "path"
    ).localCheckpoint(eager=True)
    _unpersist_all(caches)
    return result


def _reach_fixpoint(
    seed: DataFrame, e: DataFrame, keyed_by: str, extra: tuple[str, ...] = ()
) -> DataFrame:
    """Unbounded reachability closure of ``seed`` (keyed_by, *extra, node)
    over edges ``e`` (keyed_by, s, o), refusing to step onto a node equal to
    any ``extra`` column — with extra=('avoid',) this is the batched
    node-removal BFS behind the dominator join form. Returns the reflexive
    closure (seed rows included) as a checkpointed frame.

    Every iteration localCheckpoints: the loop runs to the graph DEPTH
    (hundreds of iterations on a long chain), and un-truncated union
    lineage grows the logical plan geometrically — checkpointing keeps each
    iteration's plan O(1), which is what makes an unbounded fixpoint viable
    on Spark at all.

    Constraint propagation is disabled for the loop's queries: Spark 4's
    ``UnionBase.rewriteConstraints`` crashes (``NoSuchElementException: key
    not found`` inside InferFiltersFromConstraints) when optimizing a Union
    whose children are LogicalRDDs from localCheckpoint — exactly this
    loop's accumulate shape. With propagation off the constraints sets stay
    empty and both the per-iteration checkpoints and the final one are
    safe; the toggle is restored afterwards, and the returned frame is a
    flat (constraint-free) checkpointed scan."""
    grp = [keyed_by, *extra]
    spark = seed.sparkSession
    _CP = "spark.sql.constraintPropagation.enabled"
    prev = spark.conf.get(_CP, "true")
    spark.conf.set(_CP, "false")
    try:
        reached = seed.dropDuplicates(grp + ["node"]).localCheckpoint(eager=True)
        frontier = reached
        while True:
            step = (
                frontier.alias("f")
                .join(
                    e.alias("e"),
                    (F.col(f"f.{keyed_by}") == F.col(f"e.{keyed_by}"))
                    & (F.col("f.node") == F.col("e.s")),
                )
                .select(
                    *[F.col(f"f.{c}").alias(c) for c in grp],
                    F.col("e.o").alias("node"),
                )
            )
            for c in extra:
                step = step.where(F.col("node") != F.col(c))
            new = (
                step.dropDuplicates(grp + ["node"])
                .join(reached, grp + ["node"], "left_anti")
                .localCheckpoint(eager=True)
            )
            if new.isEmpty():
                break
            reached = reached.unionByName(new).localCheckpoint(eager=True)
            frontier = new
        return reached
    finally:
        spark.conf.set(_CP, prev)


def _dom_pairs_join(
    edges: DataFrame, entries: DataFrame, keyed_by: str = "conv_id"
) -> DataFrame:
    """Full reflexive (keyed_by, n, m) dominator pairs via the removal
    characterization — m dominates n iff n is unreachable from the entry
    once m is deleted — the same independent formulation the DuckDB oracle
    uses (__spark_entry__ ``_dom_cte``), here as batched distributed BFS:
    ONE closure job carries every (group, avoided-node) pair simultaneously,
    shuffled on (key, avoid, node) so no task holds a group.

    Cost is the characterization's inherent O(V·E) rows per group — the
    price of a formulation with no per-group sequential fixpoint; it is the
    mega-group fallback, not the default path."""
    e = edges.select(keyed_by, "s", "o").dropDuplicates().persist()
    en = entries.select(keyed_by, "entry")
    full = _reach_fixpoint(
        en.select(keyed_by, F.col("entry").alias("node")), e, keyed_by
    )
    nodes = (
        e.select(keyed_by, F.col("s").alias("n"))
        .unionByName(e.select(keyed_by, F.col("o").alias("n")))
        .dropDuplicates()
        .persist()
    )
    seeds = (
        nodes.join(en, keyed_by)
        .where(F.col("n") != F.col("entry"))
        .select(keyed_by, F.col("n").alias("avoid"), F.col("entry").alias("node"))
    )
    avoid_reach = _reach_fixpoint(seeds, e, keyed_by, extra=("avoid",))
    # m dom n  ⟺  n reachable ∧ n not reachable when avoiding m.
    # avoid=entry has no seed rows, so the anti-join keeps every (n, entry)
    # pair — the entry dominates everything, as required; avoid=n never
    # reaches n (the BFS refuses to step onto the avoided node), so the
    # relation is reflexive, also as required.
    dom = (
        full.select(keyed_by, F.col("node").alias("n"))
        .join(nodes.select(keyed_by, F.col("n").alias("m")), keyed_by)
        .join(
            avoid_reach.select(
                keyed_by, F.col("avoid").alias("m"), F.col("node").alias("n")
            ),
            [keyed_by, "m", "n"],
            "left_anti",
        )
        .localCheckpoint(eager=True)
    )
    e.unpersist()
    full.unpersist()
    nodes.unpersist()
    avoid_reach.unpersist()
    return dom


def _idom_from_pairs(
    dom: DataFrame, entries: DataFrame, keyed_by: str = "conv_id"
) -> DataFrame:
    """(keyed_by, node, idom) from full dominator pairs: the immediate
    dominator is the strict dominator with the largest own dominator set
    (dominators of a node form a chain, so the max is unique; the min-m
    tie-break below is pure determinism insurance)."""
    from pyspark.sql import Window

    ndom = dom.groupBy(keyed_by, "n").agg(F.count("*").alias("sz"))
    sd = dom.where(F.col("m") != F.col("n")).join(
        ndom.select(keyed_by, F.col("n").alias("m"), "sz"), [keyed_by, "m"]
    )
    w = Window.partitionBy(keyed_by, "n").orderBy(F.col("sz").desc(), F.col("m"))
    picked = (
        sd.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select(keyed_by, F.col("n").alias("node"), F.col("m").alias("idom"))
    )
    return picked.unionByName(
        entries.select(
            keyed_by, F.col("entry").alias("node"), F.col("entry").alias("idom")
        )
    )


def dominators_join(
    edges: DataFrame, entries: DataFrame, keyed_by: str = "conv_id"
) -> DataFrame:
    """:func:`dominators_grouped` as distributed joins — identical rows
    (same contract: reachable nodes only, entry's idom is itself), no
    one-task-per-group fixpoint. See :func:`_dom_pairs_join` for the
    removal-characterization derivation."""
    dom = _dom_pairs_join(edges, entries, keyed_by)
    # restrict the synthesized entry rows to groups that still have edges
    en = entries.join(
        dom.select(keyed_by).dropDuplicates(), keyed_by, "left_semi"
    )
    return _idom_from_pairs(dom, en, keyed_by)


def control_dependence_join(
    edges: DataFrame, exits: DataFrame, keyed_by: str = "conv_id"
) -> DataFrame:
    """:func:`control_dependence_grouped` as distributed joins. Uses the
    classic identity that a node's dominator SET is exactly its chain to the
    root of the dominator tree: with full post-dominator pairs in hand, the
    grouped runner walk for edge (a, b) — runner climbs a's ipdom chain
    until ipdom(b) — becomes set algebra:

      runners(a, b) = { x ∈ pdom*(a) : ipdom(b) ∉ pdom*(a)
                                       ∨ |pdom(x)| > |pdom(ipdom(b))| }

    (deeper chain members have strictly LARGER pdom sets, so the size
    comparison is the 'strictly below the stop node' test; when the stop is
    not on a's chain the walk runs to the root, i.e. the whole set). Every
    step is an equi-join or aggregation on (key, node) — no walk, no task
    holding a group."""
    rev = edges.select(keyed_by, F.col("o").alias("s"), F.col("s").alias("o"))
    ent = exits.select(keyed_by, F.col("exit").alias("entry"))
    pdom = _dom_pairs_join(rev, ent, keyed_by).persist()
    ipd = _idom_from_pairs(
        pdom, ent.join(pdom.select(keyed_by).dropDuplicates(), keyed_by, "left_semi"),
        keyed_by,
    ).persist()
    sz = pdom.groupBy(keyed_by, "n").agg(F.count("*").alias("sz")).persist()
    e = edges.select(keyed_by, "s", "o").dropDuplicates()
    # edges with both endpoints reachable (present in the ipdom map), plus
    # the stop node ipdom(b)
    ed = (
        e.join(
            ipd.select(keyed_by, F.col("node").alias("o"), F.col("idom").alias("stop")),
            [keyed_by, "o"],
        )
        .join(
            ipd.select(keyed_by, F.col("node").alias("s")),
            [keyed_by, "s"],
            "left_semi",
        )
    )
    # runner candidates: a's whole reflexive pdom chain
    cand = ed.join(
        pdom.select(keyed_by, F.col("n").alias("s"), F.col("m").alias("runner")),
        [keyed_by, "s"],
    )
    # is the stop node on a's chain? (left join membership flag)
    stop_on_chain = pdom.select(
        keyed_by,
        F.col("n").alias("s"),
        F.col("m").alias("stop"),
        F.lit(True).alias("__stop_in"),
    )
    cand = cand.join(stop_on_chain, [keyed_by, "s", "stop"], "left")
    cand = cand.join(
        sz.select(keyed_by, F.col("n").alias("runner"), F.col("sz").alias("__szr")),
        [keyed_by, "runner"],
    ).join(
        sz.select(keyed_by, F.col("n").alias("stop"), F.col("sz").alias("__szs")),
        [keyed_by, "stop"],
        "left",
    )
    out = (
        cand.where(F.col("__stop_in").isNull() | (F.col("__szr") > F.col("__szs")))
        .select(
            keyed_by,
            F.col("runner").alias("controller"),
            F.col("o").alias("dependent"),
        )
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    pdom.unpersist()
    ipd.unpersist()
    sz.unpersist()
    return out


def _route(
    edges: DataFrame,
    keyed_by: str,
    group_edge_limit: int,
    grouped_fn,
    join_fn,
) -> DataFrame:
    small, big = _split_big_groups(edges, keyed_by, group_edge_limit)
    if big is None:
        return grouped_fn(edges)
    return grouped_fn(small).unionByName(join_fn(big))


def flow_witness_auto(
    edges: DataFrame,
    max_hops: int = 4,
    keyed_by: str = "conv_id",
    sources: DataFrame | None = None,
    sinks: DataFrame | None = None,
    group_edge_limit: int = GROUP_EDGE_LIMIT,
) -> DataFrame:
    """Size-routed :func:`flow_witness_grouped` — mega-groups take the
    join-loop formulation; identical rows either way."""
    return _route(
        edges,
        keyed_by,
        group_edge_limit,
        lambda e: flow_witness_grouped(e, max_hops, keyed_by, sources, sinks),
        lambda e: flow_witness_join(e, max_hops, keyed_by, sources, sinks),
    )


def flow_paths_auto(
    edges: DataFrame,
    max_hops: int = 4,
    keyed_by: str = "conv_id",
    sources: DataFrame | None = None,
    max_paths_per_group: int = 10_000_000,
    group_edge_limit: int = GROUP_EDGE_LIMIT,
) -> DataFrame:
    """Size-routed :func:`flow_paths_grouped`; the output-size guard holds
    on both branches."""
    return _route(
        edges,
        keyed_by,
        group_edge_limit,
        lambda e: flow_paths_grouped(e, max_hops, keyed_by, sources, max_paths_per_group),
        lambda e: flow_paths_join(e, max_hops, keyed_by, sources, max_paths_per_group),
    )


def dominators_auto(
    edges: DataFrame,
    entries: DataFrame,
    keyed_by: str = "conv_id",
    group_edge_limit: int = GROUP_EDGE_LIMIT,
) -> DataFrame:
    """Size-routed :func:`dominators_grouped` (CHK fixpoint per group) with
    the removal-characterization join form for mega-groups."""
    return _route(
        edges,
        keyed_by,
        group_edge_limit,
        lambda e: dominators_grouped(e, entries.join(e.select(keyed_by).dropDuplicates(), keyed_by, "left_semi")),
        lambda e: dominators_join(e, entries.join(e.select(keyed_by).dropDuplicates(), keyed_by, "left_semi"), keyed_by),
    )


def control_dependence_auto(
    edges: DataFrame,
    exits: DataFrame,
    keyed_by: str = "conv_id",
    group_edge_limit: int = GROUP_EDGE_LIMIT,
) -> DataFrame:
    """Size-routed :func:`control_dependence_grouped` with the pdom-set
    join form for mega-groups."""
    return _route(
        edges,
        keyed_by,
        group_edge_limit,
        lambda e: control_dependence_grouped(e, exits.join(e.select(keyed_by).dropDuplicates(), keyed_by, "left_semi")),
        lambda e: control_dependence_join(e, exits.join(e.select(keyed_by).dropDuplicates(), keyed_by, "left_semi"), keyed_by),
    )
