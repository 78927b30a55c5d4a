"""Deep semi-structured JSON ingest — the recursive AST-JSON walk (A3).

The reference's frontend walks a parser-produced JSON AST into typed nodes
and edges with deterministic id arithmetic
(``fuzzyc2cpg/.../FuzzyC2Cpg.scala:1661-1781``: children recursion + per-node
key assignment). :func:`json_tree_arrow` is the Spark translation: an
arbitrary nested JSON column becomes one row per JSON tree node —
(id, path, parent_path, depth, kind, value, n_children, node_id, parent_id) —
with content-addressed 60-bit node ids (``ids.hash60`` over (doc, path), the
KeyPool analog, DuckDB-recomputable).

Execution shape: ONE ``mapInArrow`` pass parses each document once and
walks it with an explicit stack, so there is no depth limit, no driver
loop and no shuffle; the node ids are computed JVM-side afterwards.

Path grammar (shared with the DuckDB oracle): root ``$``, object member
``<parent>.<key>``, array element ``<parent>[<i>]``. Keys are assumed
identifier-like (no '.', quotes or brackets) — the generator's contract;
a production ingest would escape keys into the JSONPath quoted form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ids import hash60


def _with_ids(out: DataFrame, id_col: str) -> DataFrame:
    key = F.concat_ws("|", F.lit("JSON"), F.col(id_col).cast("string"), F.col("path"))
    parent_key = F.concat_ws(
        "|", F.lit("JSON"), F.col(id_col).cast("string"), F.col("parent_path")
    )
    return out.withColumn("node_id", hash60(key)).withColumn(
        "parent_id",
        F.when(F.col("parent_path").isNotNull(), hash60(parent_key)),
    )


def json_tree_arrow(df: DataFrame, id_col: str, json_col: str) -> DataFrame:
    """One row per JSON tree node of ``json_col``, in a single Arrow pass.

    Output: (``id_col``, path, parent_path, depth, kind, value, n_children,
    node_id, parent_id). ``value`` is the scalar text (strings unquoted,
    numbers/booleans as literals), NULL for containers and JSON nulls.

    Each document is parsed ONCE and its whole tree emitted — a schema-less
    recursive parse the built-in expressions can only express as one pass
    per depth level over re-serialized fragments. Output batches are built
    directly as Arrow record batches: constructing a pandas frame from the
    walked columns measured 7x slower than ``pa.array`` for the same data
    (pandas object-dtype boxing), and mapInPandas would convert it right
    back to Arrow anyway."""
    import json
    from collections.abc import Iterator

    def walk(batches: Iterator) -> Iterator:
        import pyarrow as pa

        for batch in batches:
            # hot loop: bound appends + exact-type dispatch with the most
            # common kind (string leaves) first. `type(val) is X` is safe
            # here — json.loads produces exactly str/int/float/bool/dict/
            # list/None, never subclasses. Measured ~16% over the
            # isinstance-chain form on the sf0.1 corpus, output identical.
            a_id: list = []
            a_path: list = []
            a_parent: list = []
            a_depth: list = []
            a_kind: list = []
            a_value: list = []
            a_n: list = []
            ai, ap, apr, ad, ak, av, an = (
                a_id.append, a_path.append, a_parent.append, a_depth.append,
                a_kind.append, a_value.append, a_n.append,
            )
            loads = json.loads
            for doc_id, raw in zip(
                batch.column(0).to_pylist(), batch.column(1).to_pylist()
            ):
                stack = [("$", None, loads(raw), 0)]
                pop, push = stack.pop, stack.append
                while stack:
                    path, parent, val, depth = pop()
                    t = type(val)
                    if t is str:
                        kind, value, n = "string", val, 0
                    elif t is dict:
                        kind, value, n = "object", None, len(val)
                        d1 = depth + 1
                        for k, v in val.items():
                            push((f"{path}.{k}", path, v, d1))
                    elif t is list:
                        kind, value, n = "array", None, len(val)
                        d1 = depth + 1
                        for i, v in enumerate(val):
                            push((f"{path}[{i}]", path, v, d1))
                    elif val is None:
                        kind, value, n = "null", None, 0
                    elif t is bool:
                        kind, value, n = "boolean", "true" if val else "false", 0
                    else:
                        kind, value, n = "number", str(val), 0
                    ai(doc_id); ap(path); apr(parent); ad(depth)
                    ak(kind); av(value); an(n)
            yield pa.record_batch(
                [
                    pa.array(a_id, type=pa.int64()),
                    pa.array(a_path, type=pa.string()),
                    pa.array(a_parent, type=pa.string()),
                    pa.array(a_depth, type=pa.int64()),
                    pa.array(a_kind, type=pa.string()),
                    pa.array(a_value, type=pa.string()),
                    pa.array(a_n, type=pa.int64()),
                ],
                names=[
                    id_col,
                    "path",
                    "parent_path",
                    "depth",
                    "kind",
                    "value",
                    "n_children",
                ],
            )

    out = df.select(id_col, json_col).mapInArrow(
        walk,
        schema=(
            f"{id_col} long, path string, parent_path string, depth long, "
            "kind string, value string, n_children long"
        ),
    )
    return _with_ids(out, id_col)
