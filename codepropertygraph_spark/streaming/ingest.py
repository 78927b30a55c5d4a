"""Structured-Streaming ingestion of new transcript partitions.

The pass/overlay model is naturally incremental (SURVEY.md §2.F): a new
batch of transcripts is just more DiffGraph rows, so streaming ingestion
reuses the *identical* batch stage functions. The reference has no
streaming at all — this is the Spark-native extension the overlay
architecture makes free.

The triple stream has one path, exact under ANY batch split and row
arrival order: ``stream_triples_exact`` runs the turn-local clause triples
(the same ``kg.clause_triples`` code) under ``foreachBatch`` and the
order-sensitive ``follows`` edges through ``stream_follows_exact``'s
versioned ``applyInPandasWithState`` buffer, both checkpointed for
exactly-once file sinks; ``read_triples_exact`` assembles the drained
result, which equals the batch ``kg.final_triples`` set.

The other streams here are the same idea over other operators: an
incremental exact-dedup keep-list, watermarked hourly counts,
sessionization, and one DiffGraph zip per micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schema as S
from ..operators import canonicalize, kg


def _first_mention_fn(
    spark: SparkSession, alias_dict: DataFrame, merge_map: DataFrame
):
    """Driver-built per-turn first-mention closure, broadcast to executors.

    Dictionary canonicals are rewritten through ``merge_map`` (the caller's
    ``canonicalize.merge_map(alias_dict)``) ONCE at broadcast-build time, so
    the stateful follows path emits exactly the same post-merge names as
    the batch ``kg.follows_triples`` (and the frozen extractor's
    link_surface).
    External stubs are never merge-map keys (the map is dictionary-canonical-
    scoped), so the external fallback below is already parity-correct."""
    from ..operators import linking

    merge = {r.canonical_name: r.merged_name for r in merge_map.collect()}
    best = {
        r.alias: merge.get(r.canonical_name, r.canonical_name)
        for r in linking.best_alias(alias_dict).collect()
    }
    preds = set(S.TEXT_PREDICATES)
    bc = spark.sparkContext.broadcast(best)

    def first_mention(text: str) -> str | None:
        toks = text.split(" ")
        d = bc.value
        for i, t in enumerate(toks):
            if t in d:
                return d[t]
            if t in preds and 0 < i < len(toks) - 1:
                s = toks[i - 1]
                return d.get(s, S.EXTERNAL_PREFIX + s)
        return None

    return first_mention


def stream_follows_exact(
    spark: SparkSession,
    input_dir: str,
    alias_dict: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    merge: DataFrame | None = None,
):
    """Cross-batch ``follows`` edges EXACT under arbitrary arrival order.

    A conversation can span micro-batches and its turns can arrive out of
    order (a real property of this corpus: the generator shuffles rows
    across part files, testdata.py). The streamed result still equals the
    batch ``kg.follows_triples`` set no matter how conversations split
    across micro-batches:

    - state buffers the conversation's full mention sequence
      ``(turn_idx, ts_us, canonical-or-'')`` — the same session-window-style
      state a watermarked sort would keep, bounded by conversation length;
    - every batch that touches the conversation re-sorts the sequence under
      the batch ordering key ``(turn_idx, ts)`` and re-derives the COMPLETE
      pair set (a late turn can both create and break adjacent pairs, so
      incremental append emission cannot retract stale pairs);
    - emission is versioned: each re-derivation carries a per-conversation
      monotone ``seq``; the append-only sink then holds every version and
      ``read_triples_exact`` selects each conversation's latest — the
      streaming analog of update-mode output over a file sink.

    Scale shape: each conversation's state is O(its turns) — identical to
    what any per-conversation window already shuffles — and emission is
    O(pairs-per-touched-conversation) per batch, not O(corpus).

    State bound: the state has ``GroupStateTimeout.NoTimeout``, so it keeps
    every turn of every conversation ever seen and is never dropped; the
    state store grows with the whole stream, O(total turns), not with the
    conversations still open. A late turn can arrive for any conversation,
    so no state is safe to drop without a lateness bound.

    ``merge`` is ``canonicalize.merge_map(alias_dict)`` when the caller has
    it already; otherwise it is computed here. The state's ``ts_us`` field
    holds nanoseconds since the epoch, as it always has; checkpoints depend
    on that.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if merge is None:
        merge = canonicalize.merge_map(alias_dict)
    first_mention = _first_mention_fn(spark, alias_dict, merge)

    def update(key, pdfs, state: GroupState):
        (conv_id,) = key
        idxs, tss, cans = [], [], []
        for pdf in pdfs:
            idxs.append(pdf["turn_idx"].to_numpy(dtype=np.int64))
            tss.append(pdf["ts"].dt.as_unit("ns").array.asi8)
            cans.append(
                np.array([first_mention(t) or "" for t in pdf["text"]], dtype=object)
            )
        if state.exists:
            s_idxs, s_tss, s_cans, seq = state.get
            idxs.append(np.asarray(s_idxs, dtype=np.int64))
            tss.append(np.asarray(s_tss, dtype=np.int64))
            cans.append(np.array([c or "" for c in s_cans], dtype=object))
        else:
            seq = 0
        idx, ts, can = (np.concatenate(a) for a in (idxs, tss, cans))
        # stable, so equal (turn_idx, ts) keys keep arrival-then-state order
        order = np.lexsort((ts, idx))
        idx, ts, can = idx[order], ts[order], can[order]
        seq += 1
        state.update((idx.tolist(), ts.tolist(), can.tolist(), int(seq)))
        pair = (can[:-1] != "") & (can[1:] != "")
        out_subj, out_obj = can[1:][pair].tolist(), can[:-1][pair].tolist()
        if not out_subj:
            # still version the (empty) pair set: a late mention-less turn
            # can BREAK every pair a previous batch emitted, and the reader
            # must see that the newest version is empty.
            out_subj, out_obj = [None], [None]
        yield pd.DataFrame(
            {
                "conv_id": [conv_id] * len(out_subj),
                "seq": [int(seq)] * len(out_subj),
                "subj": out_subj,
                "pred": [S.PRED_FOLLOWS if s is not None else None for s in out_subj],
                "obj": out_obj,
            }
        )

    stream = (
        spark.readStream.schema(S.TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    follows = stream.groupBy("conv_id").applyInPandasWithState(
        update,
        outputStructType="conv_id string, seq int, subj string, pred string, obj string",
        stateStructType=(
            "turn_idxs array<int>, ts_us array<long>, "
            "canonicals array<string>, seq int"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        follows.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_triples_exact(
    spark: SparkSession,
    input_dir: str,
    alias_dict: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """Full triple stream whose drained result equals the batch
    ``kg.final_triples`` set even when conversations span micro-batches in
    arbitrary row order.

    Two cooperating queries over the same file source (each with its own
    checkpoint under ``checkpoint_dir``):

    - clause triples are TURN-LOCAL (broadcast dictionary + merge map, no
      cross-turn dependency), so the stateless JVM-side batch code runs
      unchanged under ``foreachBatch`` — batch granularity cannot change
      the result, and the hot path stays out of Python;
    - ``follows`` adjacency is order-sensitive, so it runs through
      ``stream_follows_exact``'s versioned buffered state at
      ``max_files_per_trigger`` granularity.

    Read the drained result with ``read_triples_exact(spark, output_dir)``.
    """
    import os

    merge = canonicalize.merge_map(alias_dict)
    os.makedirs(output_dir, exist_ok=True)

    # Turn-local ⇒ batch granularity cannot change the clause result, so
    # drain in one availableNow batch regardless of max_files_per_trigger
    # (the order-sensitive follows query below honors it).
    stream = (
        spark.readStream.schema(S.TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1_000_000)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            kg.clause_triples(batch_df, alias_dict, merge)
            .dropDuplicates(["conv_id", "subj", "pred", "obj"])
            .write.mode("append")
            .parquet(os.path.join(output_dir, "clauses"))
        )

    q1 = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "clauses"))
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination()

    stream_follows_exact(
        spark,
        input_dir,
        alias_dict,
        os.path.join(output_dir, "follows"),
        os.path.join(checkpoint_dir, "follows"),
        max_files_per_trigger=max_files_per_trigger,
        merge=merge,
    )


def read_triples_exact(spark: SparkSession, output_dir: str) -> DataFrame:
    """Assemble the current triple set from a ``stream_triples_exact`` sink:
    distinct clause triples ∪ each conversation's LATEST-version follows
    pairs (max ``seq`` per conv_id — earlier versions are superseded, the
    file-sink analog of update-mode output)."""
    import os

    from pyspark.sql import Window

    clauses = spark.read.parquet(os.path.join(output_dir, "clauses"))
    fol = spark.read.parquet(os.path.join(output_dir, "follows"))
    w = Window.partitionBy("conv_id")
    latest = (
        fol.withColumn("__mx", F.max("seq").over(w))
        .where(F.col("seq") == F.col("__mx"))
        .where(F.col("subj").isNotNull())
        .select("conv_id", "subj", "pred", "obj")
    )
    return (
        clauses.select("conv_id", "subj", "pred", "obj")
        .unionByName(latest)
        .dropDuplicates(["conv_id", "subj", "pred", "obj"])
    )


def stream_hourly_event_counts(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    events_schema: str = "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
):
    """Watermarked windowed aggregation over a stream of event files —
    late rows beyond the 1-hour watermark are dropped, counts emitted per
    (event_type, 1-hour window). Returns the collected result (availableNow
    drain into a memory sink)."""
    stream = spark.readStream.schema(events_schema).parquet(input_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:00:00").alias("hour"),
            "event_type",
            "n",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("hourly_counts")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql("SELECT * FROM hourly_counts")


def stream_dedup_keep_list(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Incremental EXACT-dedup keep-list over a document stream — the
    streaming form of ``dedup.exact_duplicates``'s first-wins policy: state
    keyed by content hash (md5 of text) remembers the keeper doc_id and the
    running duplicate count; each micro-batch emits one update row per
    content hash it touched.

    Keeper discipline: FIRST-SEEN wins across batches (the keeper committed
    by an earlier micro-batch never changes — arrival order is the
    streaming notion of "first"); within the batch that first sees a hash,
    the smallest doc_id wins (deterministic under intra-batch shuffle, and
    identical to the batch operator when everything arrives at once).

    Emits (content_hash, keeper, n_seen, batch_new) in append mode —
    downstream consumers take the LATEST row per hash (max n_seen) for the
    current keep-list, or difference n_seen across rows for per-window
    duplicate rates. Exactly-once: re-running an already-drained checkpoint
    emits nothing (state + sink commit together).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        (content_hash,) = key
        ids: list[int] = []
        for pdf in pdfs:
            ids.extend(int(x) for x in pdf["doc_id"])
        if not ids:
            return
        if state.exists:
            keeper, n_seen = state.get
            batch_new = 0
        else:
            keeper, n_seen = min(ids), 0
            batch_new = 1
        n_seen += len(ids)
        state.update((int(keeper), int(n_seen)))
        yield pd.DataFrame(
            {
                "content_hash": [content_hash],
                "keeper": [int(keeper)],
                "n_seen": [int(n_seen)],
                "batch_new": [bool(batch_new)],
            }
        )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)  # state must bridge arriving files
        .parquet(input_dir)
    )
    updates = (
        stream.withColumn("content_hash", F.md5("text"))
        .groupBy("content_hash")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "content_hash string, keeper long, n_seen long, batch_new boolean"
            ),
            stateStructType="keeper long, n_seen long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = (
        updates.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_diff_zips(
    spark: SparkSession,
    input_dir: str,
    alias_dict: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
):
    """Each micro-batch of arriving transcripts becomes ONE numbered
    DiffGraph proto zip — the streaming analog of the reference's numbered
    overlay entries (``SerializedCpg.scala:45-60`` writes ``{index}_{name}``
    zip entries; ``CpgOverlayLoader``/``ProtoCpgLoader.loadDiffGraphs``
    re-applies them in int-prefix order). The delta per batch: the batch's
    canonical ENTITY nodes + REL edges, serialized with
    ``proto_io.export_diff_zip`` as ``<out_dir>/{batch_id:05d}_overlay.zip``.

    Exactly-once: the zip write is idempotent per batch id (overwrite), and
    the checkpoint guarantees each batch id is final once committed — a
    replayed batch rewrites the same bytes. That byte-identity holds because
    export_diff_zip shards canonically (hash-bucket repartition on the
    per-kind row identity + in-partition sort, proto_io._canonical_change_
    shards) and pins zip entry timestamps — not merely content-equivalence
    (ADVICE r4)."""
    import os

    from ..operators import graph as G
    from ..operators import proto_io

    merge = canonicalize.merge_map(alias_dict)
    os.makedirs(out_dir, exist_ok=True)

    stream = (
        spark.readStream.schema(S.TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        nodes = G.entity_nodes(
            G.mention_nodes(batch_df, alias_dict),
            G.toolcall_nodes(batch_df),
            alias_dict,
            merge,
        )
        edges = G.rel_edges(kg.final_triples(batch_df, alias_dict, merge=merge))
        proto_io.export_diff_zip(
            os.path.join(out_dir, f"{batch_id:05d}_overlay.zip"),
            n_shards=2,
            add_nodes=nodes,
            add_edges=edges,
        )

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def apply_diff_zip_sequence(
    spark: SparkSession, nodes: DataFrame, edges: DataFrame, out_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Re-apply a directory of numbered DiffGraph zips in int-prefix order
    (``ProtoCpgLoader.compareOverlayPath`` semantics) on top of a base
    graph; duplicate adds across batches collapse by full-row identity
    (re-extraction of an already-seen entity is the same row)."""
    import glob
    import os

    from ..operators import proto_io

    paths = sorted(
        glob.glob(os.path.join(out_dir, "*_overlay.zip")),
        key=lambda p: int(os.path.basename(p).split("_", 1)[0]),
    )
    for p in paths:
        diff, _ = proto_io.load_diff_zip(spark, p)
        nodes, edges = proto_io.apply_diff(nodes, edges, diff)

    # full-row dedup incl. the map column (maps are not comparable — dedup
    # through a canonical key-sorted JSON rendering instead)
    def _dedup(df: DataFrame) -> DataFrame:
        plain = [c for c in df.columns if c != "props"]
        key = F.to_json(
            F.struct(*plain, F.array_sort(F.map_entries("props")).alias("__p"))
        )
        return (
            df.withColumn("__k", key).dropDuplicates(["__k"]).drop("__k")
        )

    return _dedup(nodes), _dedup(edges)


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    gap_s: int = 1800,
    events_schema: str = "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
):
    """Streaming sessionization with Spark's native ``session_window`` —
    the stateful gap-merge operator: per user, events closer than
    ``gap_s`` merge into one session whose window extends as members
    arrive, ACROSS micro-batches (the batch gaps-and-islands semantics,
    maintained incrementally in state).

    Complete-mode drain into a memory sink (the repo's windowed-agg
    pattern): availableNow returns every session including those still
    open at drain time, so the result equals batch sessionization of the
    same rows — parity-tested. The 1-hour watermark declares the lateness
    bound; in an always-on append-mode deployment it is what closes
    sessions and evicts state.

    Returns (user_id, session_start epoch micros, session_end epoch
    micros, n_events, value_centi_sum) — integer times/values, engine- and
    batch-split-exact.
    """
    stream = (
        spark.readStream.schema(events_schema)
        .option("maxFilesPerTrigger", 1)  # sessions must merge ACROSS batches
        .parquet(input_dir)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(
            F.col("user_id"),
            F.session_window("ts", f"{gap_s} seconds").alias("sw"),
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("value_centi_sum"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start").cast("timestamp_ltz")).alias(
                "session_start"
            ),
            F.unix_micros(F.col("sw.end").cast("timestamp_ltz")).alias(
                "session_end"
            ),
            "n_events",
            "value_centi_sum",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("stream_sessions")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql("SELECT * FROM stream_sessions")
