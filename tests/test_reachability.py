"""Every library module is reached from a product path.

Follows the ``import`` / ``from`` statements (at any depth, so imports
inside functions count) from the product roots: the driver catalog, the
bench and perfbench harnesses, the tools, the CLI and the HTTP control
surface. A package ``__init__`` is no root: a re-export there is no use
of the module it names. It is followed when a root imports a module
beneath it, because Python runs it then. A module nothing reaches is code
only the tests run; delete it with its tests, or name the SURVEY §2 row
that needs it in ``ALLOWED_UNREACHED``. Pure ``ast``: no module is
imported and no Spark session starts.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "shifts_etl_spark"

# modules no product path imports, kept because a SURVEY §2 row needs them
ALLOWED_UNREACHED = {
    # §2.2 K1-K4: the reference's Postgres sink (JDBC writes, one
    # transaction per batch)
    "shifts_etl_spark.sinks.jdbc",
    # §2.1 S1+S2: the paginated HTTP API read as a Spark data source
    "shifts_etl_spark.sources.api_source",
    # §2.1 S2: the page loop with a per-page commit, run as one atomic
    # commit per Structured Streaming epoch (stream_etl)
    "shifts_etl_spark.streaming",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _library_modules() -> dict[str, Path]:
    return {
        _module_name(p): p for p in sorted((ROOT / PACKAGE).rglob("*.py"))
    }


def _roots() -> list[Path]:
    roots = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    roots += sorted((ROOT / "perfbench").glob("*.py"))
    roots += sorted((ROOT / "tools").glob("*.py"))
    roots += [ROOT / PACKAGE / "__main__.py", ROOT / PACKAGE / "control.py"]
    return roots


def _imported(path: Path, name: str, modules: dict[str, Path]) -> set[str]:
    """Library modules that ``path`` (module ``name``) imports."""
    is_package = path.name == "__init__.py"
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = name.split(".")
                anchor = anchor[: len(anchor) - node.level + is_package]
                base = ".".join(anchor + ([base] if base else []))
            # `from pkg import sub` imports the submodule pkg.sub
            targets = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for target in targets:
            parts = target.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ too
            found.update(
                prefix
                for prefix in (".".join(parts[:i]) for i in range(1, len(parts) + 1))
                if prefix in modules
            )
    return found


def reached_modules() -> set[str]:
    modules = _library_modules()
    names = {p: n for n, p in modules.items()}
    todo = [(p, names.get(p, p.stem)) for p in _roots()]
    seen = set()
    while todo:
        path, name = todo.pop()
        for mod in _imported(path, name, modules) - seen:
            seen.add(mod)
            todo.append((modules[mod], mod))
    return seen | {names[p] for p in _roots() if p in names}


def test_every_library_module_is_reached():
    unreached = set(_library_modules()) - reached_modules() - ALLOWED_UNREACHED
    assert not unreached, (
        f"modules no product path imports: {sorted(unreached)}; delete "
        "them with their tests, or add them to ALLOWED_UNREACHED with the "
        "SURVEY §2 row that needs them"
    )


def test_allowlist_names_real_unreached_modules():
    """An allowlisted module that is gone, or that a product path now
    imports, is a stale entry."""
    modules = _library_modules()
    assert ALLOWED_UNREACHED <= set(modules)
    assert not ALLOWED_UNREACHED & reached_modules()
