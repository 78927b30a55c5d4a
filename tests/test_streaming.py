"""Streaming ingestion: foreachBatch triples over arriving files, with
exactly-once checkpoint semantics (rerun adds nothing)."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from codepropertygraph_spark.operators import canonicalize, kg
from codepropertygraph_spark.streaming import ingest


def test_stream_triples_matches_batch(spark, transcripts, alias_dict, tmp_path):
    base = str(tmp_path)
    # one file per conversation bucket (pmod! xxhash64 % n can be negative)
    for i in range(3):
        part = transcripts.where(F.pmod(F.xxhash64("conv_id"), F.lit(3)) == i)
        part.coalesce(1).write.mode("overwrite").parquet(f"{base}/tmp{i}")
    os.makedirs(f"{base}/in", exist_ok=True)
    for i in range(3):
        for f in os.listdir(f"{base}/tmp{i}"):
            if f.endswith(".parquet"):
                shutil.copy(f"{base}/tmp{i}/{f}", f"{base}/in/file{i}.parquet")

    def sink_rows() -> int:
        return sum(
            spark.read.parquet(f"{base}/out/{sub}").count()
            for sub in ("clauses", "follows")
        )

    ingest.stream_triples_exact(
        spark, f"{base}/in", alias_dict, f"{base}/out", f"{base}/ckpt"
    )
    got = {tuple(r) for r in ingest.read_triples_exact(spark, f"{base}/out").collect()}
    batch = {tuple(r) for r in kg.final_triples(transcripts, alias_dict).collect()}
    assert got == batch
    n_rows = sink_rows()

    # exactly-once: rerun with the same checkpoint writes no row. Counted on
    # the raw sink, since read_triples_exact dedups and would hide a replay.
    ingest.stream_triples_exact(
        spark, f"{base}/in", alias_dict, f"{base}/out", f"{base}/ckpt"
    )
    assert sink_rows() == n_rows


def test_stateful_follows_applies_merge_map(spark, tmp_path):
    """Regression: the stateful follows path must emit POST-merge
    canonicals. The dictionary carries a mergeable twin pair (token-Jaccard
    2/3 ≥ 0.5), so a pre-merge dictionary lookup would emit
    'person_4_4dup' where batch (kg.follows_triples) emits 'person_4'."""
    from datetime import datetime

    base = str(tmp_path)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    rows1 = [("cM", 1, "user", "p4d mentions p4 x", None, datetime(2024, 1, 1, 0, 0, 0))]
    rows2 = [("cM", 2, "assistant", "p4 mentions p4d y", None, datetime(2024, 1, 1, 0, 0, 10))]
    ad = spark.createDataFrame(
        [
            ("p4", "person_4", "PERSON", 0.9),
            ("p4d", "person_4_4dup", "PERSON", 0.9),
            ("person_4", "person_4", "PERSON", 0.9),
            ("person_4_4dup", "person_4_4dup", "PERSON", 0.9),
        ],
        "alias string, canonical_name string, entity_type string, prior double",
    )
    _write_files(spark, base, [rows1, rows2], schema)

    ingest.stream_triples_exact(spark, f"{base}/in", ad, f"{base}/out", f"{base}/ckpt")
    got = {
        tuple(r)
        for r in ingest.read_triples_exact(spark, f"{base}/out")
        .where(F.col("pred") == "follows")
        .collect()
    }
    # both sides resolve to the merged representative person_4
    assert got == {("cM", "person_4", "follows", "person_4")}

    # parity with the batch path on the concatenated input
    tr = spark.createDataFrame(rows1 + rows2, schema)
    batch = {
        tuple(r)
        for r in kg.follows_triples(tr, ad, canonicalize.merge_map(ad)).collect()
    }
    assert got == batch


def _write_files(spark, base, row_groups, schema):
    os.makedirs(f"{base}/in", exist_ok=True)
    for i, rows in enumerate(row_groups):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{base}/t{i}")
        for f in os.listdir(f"{base}/t{i}"):
            if f.endswith(".parquet"):
                shutil.copy(f"{base}/t{i}/{f}", f"{base}/in/file{i}.parquet")


def test_stream_triples_exact_split_conversation(spark, tmp_path):
    """VERDICT r4 #6: one conversation split across two files/batches must
    yield the IDENTICAL triple set as the batch path at
    maxFilesPerTrigger=1 — including the boundary follows pair."""
    from datetime import datetime

    base = str(tmp_path)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    rows1 = [
        ("cS", 1, "user", "p1 mentions p2 x", None, datetime(2024, 1, 1, 0, 0, 0)),
        ("cS", 2, "assistant", "p2 mentions p1 y", None, datetime(2024, 1, 1, 0, 0, 10)),
    ]
    rows2 = [
        ("cS", 3, "user", "p1 calls p2 z", None, datetime(2024, 1, 1, 0, 0, 20)),
        ("cT", 1, "user", "p2 mentions p1 w", None, datetime(2024, 1, 2, 0, 0, 0)),
    ]
    ad = spark.createDataFrame(
        [("p1", "person_one", "PERSON", 0.9), ("p2", "person_two", "PERSON", 0.9)],
        "alias string, canonical_name string, entity_type string, prior double",
    )
    _write_files(spark, base, [rows1, rows2], schema)

    ingest.stream_triples_exact(
        spark, f"{base}/in", ad, f"{base}/out", f"{base}/ckpt", max_files_per_trigger=1
    )
    got = {tuple(r) for r in ingest.read_triples_exact(spark, f"{base}/out").collect()}
    tr = spark.createDataFrame(rows1 + rows2, schema)
    batch = {tuple(r) for r in kg.final_triples(tr, ad).collect()}
    assert got == batch
    # the boundary pair (turn 3 follows turn 2) is present
    assert ("cS", "person_one", "follows", "person_two") in got

    # exactly-once: rerun with the same checkpoint adds nothing
    ingest.stream_triples_exact(
        spark, f"{base}/in", ad, f"{base}/out", f"{base}/ckpt", max_files_per_trigger=1
    )
    got2 = {tuple(r) for r in ingest.read_triples_exact(spark, f"{base}/out").collect()}
    assert got2 == batch


def test_stream_triples_exact_out_of_order_arrival(spark, tmp_path):
    """The corpus generator SHUFFLES rows across part files, so a later file
    can carry an EARLIER turn. The buffered-state path must re-derive the
    pair set (creating AND breaking pairs) instead of dropping late turns:
    here the late-arriving mention-less turn 2 breaks the (turn3, turn1)
    pair batch 1 saw, and late turn 0 adds a new boundary pair."""
    from datetime import datetime

    base = str(tmp_path)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    # file 0: turns 1 and 3 (adjacent as far as batch 0 knows)
    rows1 = [
        ("cO", 1, "user", "p1 mentions p2 a", None, datetime(2024, 1, 1, 0, 0, 0)),
        ("cO", 3, "user", "p2 mentions p1 c", None, datetime(2024, 1, 1, 0, 0, 20)),
    ]
    # file 1: turn 2 (mention-less, BREAKS the 3->1 pair) and turn 0 (new pair 1->0)
    rows2 = [
        ("cO", 2, "assistant", "no entities here", None, datetime(2024, 1, 1, 0, 0, 10)),
        ("cO", 0, "user", "p2 greets x", None, datetime(2023, 12, 31, 0, 0, 0)),
    ]
    ad = spark.createDataFrame(
        [("p1", "person_one", "PERSON", 0.9), ("p2", "person_two", "PERSON", 0.9)],
        "alias string, canonical_name string, entity_type string, prior double",
    )
    _write_files(spark, base, [rows1, rows2], schema)

    ingest.stream_triples_exact(
        spark, f"{base}/in", ad, f"{base}/out", f"{base}/ckpt", max_files_per_trigger=1
    )
    got = {tuple(r) for r in ingest.read_triples_exact(spark, f"{base}/out").collect()}
    tr = spark.createDataFrame(rows1 + rows2, schema)
    batch = {tuple(r) for r in kg.final_triples(tr, ad).collect()}
    assert got == batch
    # the stale pair from batch 0 must NOT survive
    follows = {t for t in got if t[2] == "follows"}
    assert ("cO", "person_two", "follows", "person_one") not in follows
    assert ("cO", "person_one", "follows", "person_two") in follows


def test_stream_follows_exact_state_keeps_nanosecond_ts(spark, tmp_path):
    """The follows state stores each turn's ts as nanoseconds since the
    epoch (its field is named ts_us), sorted by (turn_idx, ts). Checkpoints
    written in that unit must keep loading, so the unit must not drift."""
    from datetime import datetime

    base = str(tmp_path)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    rows = [
        ("cN", 2, "user", "p2 mentions p1 b", None, datetime(2024, 1, 1, 0, 0, 10)),
        ("cN", 1, "user", "p1 mentions p2 a", None, datetime(2024, 1, 1, 0, 0, 0)),
        ("cN", 1, "tool", "nothing to see", None, datetime(2024, 1, 1, 0, 0, 5)),
    ]
    ad = spark.createDataFrame(
        [("p1", "person_one", "PERSON", 0.9), ("p2", "person_two", "PERSON", 0.9)],
        "alias string, canonical_name string, entity_type string, prior double",
    )
    _write_files(spark, base, [rows], schema)
    # the five-positional-argument form, as callers outside the package use it
    ingest.stream_follows_exact(spark, f"{base}/in", ad, f"{base}/out", f"{base}/ckpt")

    (state,) = (
        spark.read.format("statestore").load(f"{base}/ckpt")
        .select("value.groupState.*").collect()
    )
    assert list(state.turn_idxs) == [1, 1, 2]
    ts = list(state.ts_us)
    assert [t - ts[0] for t in ts] == [0, 5 * 10**9, 10 * 10**9]
    # 2024-01-01 in ns, give or take any local-time offset of the input
    assert abs(ts[0] - 1704067200 * 10**9) <= 14 * 3600 * 10**9
    assert list(state.canonicals) == ["person_one", "", "person_two"]
    assert state.seq == 1
    out = spark.read.parquet(f"{base}/out").collect()
    assert [(r.subj, r.obj) for r in out] == [(None, None)]


def test_stream_hourly_counts_match_batch(spark, tmp_path):
    import shutil, os

    base = str(tmp_path)
    src = "/root/testdata/sf0.001/events.parquet"
    os.makedirs(f"{base}/in", exist_ok=True)
    shutil.copy(src, f"{base}/in/events.parquet")
    got = {
        (r.hour, r.event_type, r.n)
        for r in ingest.stream_hourly_event_counts(spark, f"{base}/in", f"{base}/ckpt").collect()
    }
    batch = {
        (r.hour, r.event_type, r.n)
        for r in spark.read.parquet(src)
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == batch


def test_stream_dedup_keep_list_first_seen_wins(spark, tmp_path):
    """Incremental exact dedup: the keeper committed by the first batch must
    survive a later batch carrying a SMALLER doc_id for the same content
    (first-seen-wins is arrival-ordered, not id-ordered); duplicate counts
    accumulate across batches; draining the same checkpoint twice emits
    nothing new; and a single-drain run matches the batch operator's
    keep-list policy for the first-arrived hash."""
    base = str(tmp_path)
    os.makedirs(f"{base}/in", exist_ok=True)

    def write_file(name, rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{base}/tmp_{name}")
        for f in os.listdir(f"{base}/tmp_{name}"):
            if f.endswith(".parquet"):
                shutil.copy(f"{base}/tmp_{name}/{f}", f"{base}/in/{name}.parquet")

    # batch 1: hash A seen by docs 10, 12 → keeper 10; hash B by doc 20
    write_file("b1", [(12, "aaa"), (10, "aaa"), (20, "bbb")])
    # batch 2: doc 5 duplicates hash A — arrives later, must NOT take over
    write_file("b2", [(5, "aaa"), (21, "ccc")])

    ingest.stream_dedup_keep_list(spark, f"{base}/in", f"{base}/out", f"{base}/ckpt")
    rows = spark.read.parquet(f"{base}/out").collect()
    # latest state per hash = max n_seen row
    latest = {}
    for r in rows:
        if r.content_hash not in latest or r.n_seen > latest[r.content_hash].n_seen:
            latest[r.content_hash] = r
    by_keeper = {r.keeper: r for r in latest.values()}
    assert set(by_keeper) == {10, 20, 21}
    assert by_keeper[10].n_seen == 3      # 10, 12, then late 5
    assert by_keeper[20].n_seen == 1
    # batch_new marks only the first row per hash
    a_rows = sorted(
        (r for r in rows if r.keeper == 10), key=lambda r: r.n_seen
    )
    assert [r.batch_new for r in a_rows] == [True, False]

    # exactly-once: re-draining the same checkpoint emits nothing
    n_before = len(rows)
    ingest.stream_dedup_keep_list(spark, f"{base}/in", f"{base}/out", f"{base}/ckpt")
    assert len(spark.read.parquet(f"{base}/out").collect()) == n_before


def test_stream_diff_zips_rebuild_graph(spark, transcripts, alias_dict, tmp_path):
    """Streaming overlay emission: each micro-batch writes one numbered
    DiffGraph proto zip; re-applying the sequence in int-prefix order on an
    empty graph reproduces the batch-built ENTITY/REL graph exactly (the
    SerializedCpg numbered-overlay save/load loop, streaming-fed)."""
    import glob

    from codepropertygraph_spark.operators import canonicalize as C
    from codepropertygraph_spark.operators import graph as G

    base = str(tmp_path)
    for i in range(3):
        part = transcripts.where(F.pmod(F.xxhash64("conv_id"), F.lit(3)) == i)
        part.coalesce(1).write.mode("overwrite").parquet(f"{base}/tmp{i}")
    os.makedirs(f"{base}/in", exist_ok=True)
    for i in range(3):
        for f in os.listdir(f"{base}/tmp{i}"):
            if f.endswith(".parquet"):
                shutil.copy(f"{base}/tmp{i}/{f}", f"{base}/in/file{i}.parquet")

    ingest.stream_diff_zips(
        spark, f"{base}/in", alias_dict, f"{base}/zips", f"{base}/ckpt_dz"
    )
    zips = glob.glob(f"{base}/zips/*_overlay.zip")
    assert zips, "no overlay zips written"

    empty_n = spark.createDataFrame([], G.conversation_nodes(transcripts).schema)
    merge = C.merge_map(alias_dict)
    want_e = G.rel_edges(kg.final_triples(transcripts, alias_dict, merge=merge))
    empty_e = spark.createDataFrame([], want_e.schema)
    nodes, edges = ingest.apply_diff_zip_sequence(
        spark, empty_n, empty_e, f"{base}/zips"
    )

    want_n = G.entity_nodes(
        G.mention_nodes(transcripts, alias_dict),
        G.toolcall_nodes(transcripts),
        alias_dict,
        merge,
    )
    canon = lambda df: {
        tuple(r)
        for r in df.select(
            *[c for c in df.columns if c != "props"],
            F.array_sort(F.map_entries("props")).cast("string"),
        ).collect()
    }
    assert canon(nodes) == canon(want_n)
    assert canon(edges) == canon(want_e)


def test_stream_sessionize_matches_batch(spark, tmp_path):
    """session_window streaming sessionization == batch gaps-and-islands
    on the same rows, with the corpus split into two time-ordered files so
    sessions STRADDLE the micro-batch boundary (maxFilesPerTrigger=1
    forces the state merge path)."""
    import os

    import glob as _glob
    import shutil

    base = str(tmp_path)
    src = "/root/testdata/sf0.001/events.parquet"
    ev = spark.read.parquet(src)
    os.makedirs(f"{base}/in", exist_ok=True)
    # time-ordered halves: every user's stream is cut mid-session somewhere
    half = ev.count() // 2
    ev.orderBy("ts").limit(half).coalesce(1).write.parquet(f"{base}/stage1")
    first_ids = {
        r.event_id
        for r in spark.read.parquet(f"{base}/stage1").select("event_id").collect()
    }
    ev.where(~F.col("event_id").isin(list(first_ids))).coalesce(1).write.parquet(
        f"{base}/stage2"
    )
    for i, stage in enumerate(("stage1", "stage2"), 1):
        (part,) = _glob.glob(f"{base}/{stage}/part-*.parquet")
        shutil.copy(part, f"{base}/in/{i:02d}.parquet")
    assert spark.read.parquet(f"{base}/in").count() == ev.count()

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.value_centi_sum)
        for r in ingest.stream_sessionize(
            spark, f"{base}/in", f"{base}/ckpt", gap_s=1800
        ).collect()
    }

    from pyspark.sql import Window as W

    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    w = W.partitionBy("user_id").orderBy("us")
    b = (
        ev.select("user_id", us.alias("us"), "value")
        .withColumn("prev", F.lag("us").over(w))
        .withColumn(
            "new_s",
            F.when(
                F.col("prev").isNull()
                | (F.col("us") - F.col("prev") > 1800 * 1_000_000),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "sid",
            F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("us").alias("session_start"),
            (F.max("us") + 1800 * 1_000_000).alias("session_end"),
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("value_centi_sum"),
        )
    )
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.value_centi_sum)
        for r in b.collect()
    }
    assert got == want
