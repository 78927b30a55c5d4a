"""kgql — the interactive query entry point (the Console/CPGQL-server analog:
``console/src/main/scala/io/shiftleft/console/Console.scala:125-131`` exposes
the ``cpg`` root to an Ammonite REPL; ``cpgqlserver/CPGQLServer.scala``
evaluates query strings over a loaded CPG). Here the root is a
:class:`~codepropertygraph_spark.operators.traversal.GraphView` named ``g``
over either a committed pipeline warehouse (``--warehouse``) or a graph built
on the fly from the generated corpus (``--sf-dir``).

Usage:
    python tools/kgql.py --sf-dir /root/testdata/sf0.001 -c 'g.turns().count()'
    python tools/kgql.py --warehouse /tmp/wh            # REPL on stdin
    echo 'g.help()' | python tools/kgql.py --sf-dir ...
    python tools/kgql.py --workspace /tmp/ws            # project management:
        :projects / :import <input_dir> <name> / :open <name> / :close
        <name> / :delete <name> / :active / :run-script <file> [k=v ...]
        (console/.../workspacehandling/WorkspaceManager.scala analog,
        plans/workspace.py)
    python tools/kgql.py --warehouse /tmp/wh --script q.py --param k=v
        # ScriptManager.runScript analog: bound names g/F/S/params; result
        # = the script's run(g, params) return value or its `result` var

Expressions are Python over the bound names ``g`` (GraphView), ``F``
(pyspark.sql.functions) and ``S`` (schema constants) — the moral equivalent
of the reference's Scala REPL line evaluation. Results render as:
Traversal → first rows of its frame; DataFrame → .show(); anything else →
repr. Meta-commands: ``:help`` ``:labels`` ``:export <dir>``
``:export-proto <file.zip>`` ``:quit``.

Interchange: ``--bundle <dir>`` opens a full-graph bundle written by
``:export <dir>`` (or exports.export_bundle); ``--proto-zip <file>`` opens
a proto wire-format zip written by ``:export-proto`` — the console side of
the ``cpg.bin.zip`` load path (``ProtoCpgLoader.scala:23``): export on the
cluster that built the graph, explore it anywhere.
"""

from __future__ import annotations

import argparse
import io
import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from codepropertygraph_spark import schema as S  # noqa: E402
from codepropertygraph_spark.operators.traversal import (  # noqa: E402
    GraphView,
    Traversal,
)

MAX_ROWS = 20


def build_view_from_corpus(spark, sf_dir: str) -> GraphView:
    """GraphView straight from transcripts + alias dict (no warehouse):
    the same node/edge builders the pipeline passes commit."""
    from codepropertygraph_spark import testdata as td
    from codepropertygraph_spark.operators import canonicalize, kg
    from codepropertygraph_spark.operators import graph as G

    d = td.ensure_generated(td.tier_of_sf_dir(sf_dir))
    tr = spark.read.parquet(f"{d}/transcripts.parquet")
    ad = spark.read.parquet(f"{d}/alias_dict.parquet")
    merge = canonicalize.merge_map(ad)
    mentions, toolcalls = G.mention_nodes(tr, ad), G.toolcall_nodes(tr)
    nodes = (
        G.conversation_nodes(tr)
        .unionByName(G.turn_nodes(tr))
        .unionByName(mentions)
        .unionByName(toolcalls)
        .unionByName(G.entity_nodes(mentions, toolcalls, ad, merge))
    )
    edges = (
        G.ast_edges(tr, ad)
        .unionByName(G.next_edges(tr))
        .unionByName(G.contains_edges(tr, ad))
        .unionByName(G.ref_edges(mentions, ad, merge))
        .unionByName(G.call_edges(toolcalls, ad, merge))
        .unionByName(G.rel_edges(kg.final_triples(tr, ad, merge=merge)))
    )
    return GraphView(nodes, edges)


def build_view_from_warehouse(spark, warehouse: str) -> GraphView:
    from codepropertygraph_spark.plans.pipeline import Catalog

    cat = Catalog(spark, warehouse)
    nodes, edges = cat.nodes(), cat.edges()
    if nodes is None or edges is None:
        raise SystemExit(f"warehouse {warehouse} has no committed nodes/edges")
    return GraphView(nodes, edges)


def export_bundle(g: GraphView, out_dir: str) -> str:
    """:export — write the current graph as a verified interchange bundle."""
    from codepropertygraph_spark.operators import exports

    # bundle columns are the node-frame contract; a corpus-built view has
    # them all, a custom GraphView may not — fail with the missing list.
    from codepropertygraph_spark.operators.exports import _EDGE_COLS, _NODE_COLS

    missing = [c for c in _NODE_COLS + ["props"] if c not in g.nodes.columns]
    missing += [c for c in _EDGE_COLS + ["props"] if c not in g.edges.columns]
    if missing:
        return f"error: graph is missing bundle columns {sorted(set(missing))}"
    m = exports.export_bundle(g.nodes, g.edges, out_dir)
    return (
        f"bundle written to {out_dir}: {m['nodes']['rows']} nodes, "
        f"{m['edges']['rows']} edges"
    )


def export_proto(g: GraphView, path: str) -> str:
    """:export-proto — write the graph as the proto wire-format zip (the
    literal ``cpg.bin.zip`` layout, reference-tooling-parseable)."""
    from codepropertygraph_spark.operators import proto_io
    from codepropertygraph_spark.operators.exports import _NODE_COLS

    missing = [c for c in _NODE_COLS + ["props"] if c not in g.nodes.columns]
    missing += [c for c in ["src", "dst", "label", "props"] if c not in g.edges.columns]
    if missing:
        return f"error: graph is missing proto columns {sorted(set(missing))}"
    proto_io.export_proto_zip(g.nodes, g.edges, path)
    return f"proto zip written to {path}"


def build_view_from_proto_zip(spark, path: str) -> GraphView:
    """Open a proto wire-format zip (the reference console's loadCpg on a
    cpg.bin.zip) as a queryable GraphView."""
    from codepropertygraph_spark.operators import proto_io

    nodes, edges, _ = proto_io.load_proto_zip(spark, path)
    return GraphView(nodes, edges)


def build_view_from_bundle(spark, bundle_dir: str) -> GraphView:
    from codepropertygraph_spark.operators import exports

    nodes, edges, _ = exports.load_bundle(spark, bundle_dir)
    return GraphView(nodes, edges)


def render(value) -> str:
    """Stringify an evaluation result the way the console would print it."""
    if isinstance(value, Traversal):
        value = value.df
    if isinstance(value, DataFrame):
        buf = io.StringIO()
        rows = value.limit(MAX_ROWS + 1).collect()
        cols = value.columns
        buf.write(" | ".join(cols) + "\n")
        for r in rows[:MAX_ROWS]:
            buf.write(" | ".join(str(v) for v in r) + "\n")
        if len(rows) > MAX_ROWS:
            buf.write(f"... (>{MAX_ROWS} rows)\n")
        return buf.getvalue().rstrip("\n")
    if isinstance(value, list):
        return "\n".join(str(v) for v in value)
    return repr(value)


def evaluate(g: GraphView, line: str) -> str:
    """One console line → rendered output (the CPGQLServer /query analog).
    Meta-commands start with ':'; everything else is a Python expression
    over the bound roots."""
    line = line.strip()
    if not line:
        return ""
    if line in (":quit", ":exit", ":q"):
        raise EOFError
    if line == ":help":
        return "\n".join(f"{n:22s} {doc}" for n, doc in g.help())
    if line == ":labels":
        return render(g.all().group_count("label"))
    if line.startswith(":export-proto "):
        return export_proto(g, line.split(None, 1)[1].strip())
    if line.startswith(":export "):
        return export_bundle(g, line.split(None, 1)[1].strip())
    env = {"g": g, "F": F, "S": S, "__builtins__": __builtins__}
    value = eval(line, env)  # the REPL contract: evaluate the query line
    return render(value)


def handle_workspace_command(spark, ws, state: dict, line: str) -> str | None:
    """Workspace/project meta-commands (the console's project-management
    verbs, ``WorkspaceManager.scala:30-410`` + ``ScriptManager.scala:125``).
    Returns rendered output, or None when ``line`` is not a workspace
    command (so the caller falls through to expression evaluation).
    Opening/importing a project rebinds ``state['g']`` to a GraphView over
    that project's warehouse — the active-project ``cpg`` root."""
    from codepropertygraph_spark.plans import workspace as W

    parts = line.split()
    if not parts:
        return None
    cmd = parts[0]
    if cmd == ":projects":
        header = "name\toverlays\tinputPath\tloaded"
        body = str(ws)
        return header + ("\n" + body if body else "\n(empty workspace)")
    if cmd == ":import" and len(parts) == 3:
        p = ws.create_project(parts[1], parts[2])
        state["g"] = build_view_from_warehouse(spark, p.warehouse)
        return f"project {p.name!r} created from {p.input_path} ({len(p.available_overlays())} overlays)"
    if cmd == ":open" and len(parts) == 2:
        p = ws.open_project(parts[1])
        if p is None:
            return f"error: no project {parts[1]!r}"
        state["g"] = build_view_from_warehouse(spark, p.warehouse)
        return f"project {p.name!r} open (overlays: {','.join(p.applied_overlays())})"
    if cmd == ":close" and len(parts) == 2:
        p = ws.close_project(parts[1])
        return f"project {parts[1]!r} closed" if p else f"error: no project {parts[1]!r}"
    if cmd == ":delete" and len(parts) == 2:
        ws.delete_project(parts[1])
        return f"project {parts[1]!r} deleted"
    if cmd == ":active":
        p = ws.get_active_project()
        return p.name if p else "(none)"
    if cmd == ":run-script" and len(parts) >= 2:
        params = dict(kv.split("=", 1) for kv in parts[2:])
        return render(W.run_script(state["g"], parts[1], params))
    return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default=None, help="build the graph from the generated corpus for this tier")
    ap.add_argument("--warehouse", default=None, help="open a committed pipeline warehouse")
    ap.add_argument("--bundle", default=None, help="open a full-graph interchange bundle (:export output)")
    ap.add_argument("--proto-zip", default=None, help="open a proto wire-format graph zip (:export-proto output / cpg.bin.zip layout)")
    ap.add_argument("--workspace", default=None, help="workspace dir of named projects (:projects :import :open :close :delete :run-script)")
    ap.add_argument("-c", "--command", default=None, help="evaluate one expression and exit")
    ap.add_argument("--script", default=None, help="run a Python script file over the graph and exit (prints its result)")
    ap.add_argument("--param", action="append", default=[], help="k=v script parameter (repeatable)")
    ap.add_argument("--master", default="local[8]")
    args = ap.parse_args(argv)
    if not args.sf_dir and not args.warehouse and not args.bundle and not args.proto_zip and not args.workspace:
        ap.error("need --sf-dir, --warehouse, --bundle, --proto-zip or --workspace")

    from codepropertygraph_spark.session import get_spark

    spark = get_spark(app_name="kgql", master=args.master)
    ws = None
    if args.workspace:
        from codepropertygraph_spark.plans.workspace import WorkspaceManager

        ws = WorkspaceManager(spark, args.workspace)
    if args.proto_zip:
        g = build_view_from_proto_zip(spark, args.proto_zip)
    elif args.bundle:
        g = build_view_from_bundle(spark, args.bundle)
    elif args.warehouse:
        g = build_view_from_warehouse(spark, args.warehouse)
    elif args.sf_dir:
        g = build_view_from_corpus(spark, args.sf_dir)
    else:
        g = None  # workspace-only session: :import/:open binds the root
    state = {"g": g}

    def run_line(line: str) -> str:
        if ws is not None:
            out = handle_workspace_command(spark, ws, state, line.strip())
            if out is not None:
                return out
        if state["g"] is None:
            return "error: no graph bound — :import <input_dir> <name> or :open <name> first"
        return evaluate(state["g"], line)

    if args.script:
        from codepropertygraph_spark.plans import workspace as W

        params = dict(kv.split("=", 1) for kv in args.param)
        print(render(W.run_script(state["g"], args.script, params)))
        return 0
    if args.command:
        print(run_line(args.command))
        return 0
    print("kgql> roots: g (GraphView), F, S — :help :labels :quit", file=sys.stderr)
    for line in sys.stdin:
        try:
            out = run_line(line)
        except EOFError:
            break
        except Exception as exc:  # console discipline: errors don't kill the session
            out = f"error: {exc}"
        if out:
            print(out)
        sys.stdout.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
