"""Layering guard over the package source (AST only, no Spark):

- no module imports another package module's underscore name — a name
  two modules share is public in the one module that owns it;
- nothing in ``functions/`` or ``operators/`` imports from ``plans/``:
  kernels sit below the query modules that compose them;
- only ``sinks/landing.py`` knows the fact table's ``event_date`` layout:
  no other module partitions a write by it or builds ``F.col("event_date")``;
- only ``sinks/landing.py`` calls ``write_events``: every fact write goes
  through its ``merge_events``, so the table has one upsert semantics;
- nothing calls ``localCheckpoint``, and only ``operators/iterate.py``
  calls ``.checkpoint(``: iterative operators cut lineage through its
  ``materialize``, one policy that survives lost blocks.
"""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "habits_etl_spark"


def _package_imports():
    """(importing module, imported module, name or None, line) for every
    ``from habits_etl_spark... import`` and ``import habits_etl_spark...``
    anywhere in a package module, function bodies included."""
    out = []
    for path in sorted(PKG.rglob("*.py")):
        parts = path.relative_to(PKG.parent).with_suffix("").parts
        mod = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and node.module:
                if node.module.startswith("habits_etl_spark"):
                    for alias in node.names:
                        out.append((mod, node.module, alias.name, node.lineno))
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.startswith("habits_etl_spark"):
                        out.append((mod, alias.name, None, node.lineno))
    return out


def test_no_module_imports_another_modules_private_name():
    hits = [
        f"{mod}:{line} imports {src}.{name}"
        for mod, src, name, line in _package_imports()
        if name is not None and name.startswith("_") and src != mod
    ]
    assert not hits, "\n".join(hits)


def test_kernel_layers_do_not_import_plans():
    low = ("habits_etl_spark.functions", "habits_etl_spark.operators")
    hits = [
        f"{mod}:{line} imports {src}"
        for mod, src, _, line in _package_imports()
        if mod.startswith(low) and src.startswith("habits_etl_spark.plans")
    ]
    assert not hits, "\n".join(hits)


def _names_event_date(call):
    return any(isinstance(a, ast.Constant) and a.value == "event_date" for a in call.args)


def test_only_landing_knows_the_fact_layout():
    owner = PKG / "sinks" / "landing.py"
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        if path == owner:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not (isinstance(node, ast.Call) and _names_event_date(node)):
                continue
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
            # Window.partitionBy("event_date") is a query window, not a layout
            on_window = isinstance(fn, ast.Attribute) and getattr(fn.value, "id", None) == "Window"
            if (name == "partitionBy" and not on_window) or name in ("col", "column"):
                hits.append(f"{path.relative_to(PKG)}:{fn.end_lineno} {name}('event_date')")
    assert not hits, "\n".join(hits)


def test_only_landing_writes_the_fact_table():
    owner = PKG / "sinks" / "landing.py"
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        if path == owner:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                fn = node.func
                name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
                if name == "write_events":
                    hits.append(f"{path.relative_to(PKG)}:{node.lineno} write_events(...)")
    assert not hits, "\n".join(hits)


def test_lineage_cuts_go_through_iterate():
    owner = PKG / "operators" / "iterate.py"
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            name = node.func.attr
            if name == "localCheckpoint" or (name == "checkpoint" and path != owner):
                hits.append(f"{path.relative_to(PKG)}:{node.func.end_lineno} .{name}(...)")
    assert not hits, "\n".join(hits)
