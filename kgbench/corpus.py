"""Seeded transcript corpus and its oracle triple set.

The benchmark owns its transcript generator so that its inputs stay fixed
while the program changes between commits. The entity universe, the alias
dictionary and the frozen reference extractor come from the package's
``testdata`` module, which the grammar contract ties to the pipeline.

The corpus keeps the package generator's pathologies: one mega-conversation
(conversation 0 has 20x the mean turn count), a hub entity present in about
two thirds of conversations, duplicate ``turn_idx`` values told apart only
by ``ts``, single-turn conversations, and unresolvable mentions that link to
external stubs. Rows are shuffled, so a conversation spans part files and
arrives out of order.

Generated corpora and their oracles are cached per (seed, size) under the
benchmark's git-ignored work directory.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from codepropertygraph_spark import schema as S
from codepropertygraph_spark import testdata as td

VERSION = 2  # bump when the generator's output changes

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)
TRIPLE_SCHEMA = pa.schema(
    [("conv_id", pa.string()), ("subj", pa.string()),
     ("pred", pa.string()), ("obj", pa.string())]
)
HUB_ALIAS = "org_1"


def generate(seed: int, n_conv: int, mean_turns: int) -> tuple[list[dict], list[dict]]:
    """(transcript rows in shuffled arrival order, alias dictionary rows)."""
    rng = np.random.default_rng(seed)
    alias_rows = td.build_alias_dict(td.build_entities())
    surfaces = sorted({r["alias"] for r in alias_rows})
    tools = sorted({r["alias"] for r in alias_rows if r["entity_type"] == "TOOL"})
    unknown = [f"unknown_thing_{j}" for j in range(td.N_UNKNOWN_TOKENS)]
    fillers = td.FILLERS

    def pick(seq):
        return seq[int(rng.integers(0, len(seq)))]

    # Poisson turn counts drawn once for the size, dealt out to the
    # conversations by the seed: every seed has the same total turn count
    ordinary = [c for c in range(1, n_conv) if c % 17 != 5]
    counts = np.maximum(
        1, np.random.default_rng(0).poisson(mean_turns, len(ordinary))
    )
    turns_of = dict(zip(ordinary, rng.permutation(counts).tolist()))
    turns_of[0] = mean_turns * 20  # mega-conversation

    base_ts = datetime(2024, 1, 1)
    rows: list[dict] = []
    for c in range(n_conv):
        n_turns = turns_of.get(c, 1)  # c % 17 == 5: single-turn
        hub_conv = c % 3 != 0
        dup_idx_conv = c % 20 == 3
        turn_idx = 0
        for t in range(n_turns):
            # gaps in turn_idx; in dup_idx_conv turns 2 and 3 share one
            if not (dup_idx_conv and t in (2, 3)) and rng.random() < 0.1:
                turn_idx += 2
            if not (dup_idx_conv and t == 3):
                turn_idx += 1
            is_tool_turn = t % 7 == 6
            role = "tool" if is_tool_turn else ("user" if t % 2 == 0 else "assistant")
            if t == 0 and c % 11 == 0:
                role = "system"
            toks = [pick(fillers)]
            tool_val = None
            for k in range(1 + int(rng.integers(0, 3))):
                if is_tool_turn and k == 0:
                    subj, pred, obj = pick(surfaces), S.PRED_USES_TOOL, pick(tools)
                    tool_val = obj
                else:
                    if hub_conv and k == 0 and rng.random() < 0.5:
                        subj = HUB_ALIAS
                    elif rng.random() < 0.08:
                        subj = pick(unknown)
                    else:
                        subj = pick(surfaces)
                    pred = pick(S.TEXT_PREDICATES)
                    obj = pick(unknown) if rng.random() < 0.08 else pick(surfaces)
                toks += [subj, pred, obj, pick(fillers)]
            rows.append(
                {
                    "conv_id": f"c{c:06d}",
                    "turn_idx": turn_idx,
                    "role": role,
                    "text": " ".join(toks),
                    "tool": tool_val,
                    "ts": base_ts + timedelta(seconds=c * 86400 + t * 10),
                }
            )
    perm = np.random.default_rng(seed + 1).permutation(len(rows))
    return [rows[i] for i in perm], alias_rows


def oracle(rows: list[dict], alias_rows: list[dict]) -> set[tuple[str, str, str, str]]:
    """The frozen reference extractor's (conv_id, subj, pred, obj) set."""
    return td.reference_extract(rows, alias_rows)


def check_triples(got, expected: set) -> tuple[bool, dict]:
    """Exact set comparison of a triple set against the oracle. Returns
    (ok, detail) with precision/recall; ok needs both to be 1.0 and no
    duplicate rows in ``got``."""
    got_list = [tuple(t) for t in got]
    got_set = set(got_list)
    tp = len(got_set & expected)
    precision = tp / len(got_set) if got_set else 0.0
    recall = tp / len(expected) if expected else 1.0
    ok = got_set == expected and len(got_list) == len(got_set)
    return ok, {"precision": precision, "recall": recall,
                "rows": len(got_list), "expected": len(expected)}


class Corpus:
    """A generated corpus materialized as parquet, plus its oracle."""

    def __init__(self, root: str, seed: int, n_conv: int, mean_turns: int):
        self.seed = seed
        self.dir = os.path.join(
            root, f"v{VERSION}-s{seed}-c{n_conv}-t{mean_turns}"
        )
        self.transcripts = os.path.join(self.dir, "transcripts.parquet")
        self.alias_dict = os.path.join(self.dir, "alias_dict.parquet")
        self.expected = os.path.join(self.dir, "expected_triples.parquet")
        if not os.path.exists(os.path.join(self.dir, "_DONE.json")):
            self._materialize(n_conv, mean_turns)
        with open(os.path.join(self.dir, "_DONE.json")) as fh:
            self.turns = json.load(fh)["turns"]

    def _materialize(self, n_conv: int, mean_turns: int) -> None:
        rows, alias_rows = generate(self.seed, n_conv, mean_turns)
        tmp = self.dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tdir = os.path.join(tmp, "transcripts.parquet")
        os.makedirs(tdir)
        table = pa.Table.from_pylist(rows, schema=TRANSCRIPT_SCHEMA)
        n_parts = 8  # many part files, like a real table (see testdata)
        chunk = -(-table.num_rows // n_parts)
        for i in range(n_parts):
            pq.write_table(
                table.slice(i * chunk, chunk),
                os.path.join(tdir, f"part-{i:03d}.parquet"),
            )
        pq.write_table(
            pa.Table.from_pylist(alias_rows),
            os.path.join(tmp, "alias_dict.parquet"),
        )
        triples = sorted(oracle(rows, alias_rows))
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(TRIPLE_SCHEMA.names, t)) for t in triples],
                schema=TRIPLE_SCHEMA,
            ),
            os.path.join(tmp, "expected_triples.parquet"),
        )
        with open(os.path.join(tmp, "_DONE.json"), "w") as fh:
            json.dump({"turns": len(rows), "triples": len(triples)}, fh)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.replace(tmp, self.dir)

    def rows(self) -> list[dict]:
        """Transcript rows in arrival order."""
        return pq.read_table(self.transcripts, schema=TRANSCRIPT_SCHEMA).to_pylist()

    def alias_rows(self) -> list[dict]:
        return pq.read_table(self.alias_dict).to_pylist()

    def expected_triples(self) -> set[tuple[str, str, str, str]]:
        return {
            tuple(r.values()) for r in pq.read_table(self.expected).to_pylist()
        }
