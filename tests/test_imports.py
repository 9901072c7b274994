"""Every internal import resolves, and every CrawlConfig field is read.

Parses each ``.py`` under ``fetcho_spark/`` plus ``__spark_entry__.py``, the
bench scripts, ``scripts/`` and ``crawlbench/`` with ``ast`` and checks every
``import``/``from … import`` of ``fetcho_spark`` — relative ones and the
lazy ones inside function bodies too (``multimodal`` and ``codec.decode``
import that way). A dangling lazy import otherwise only fails when a test
happens to call the function that holds it. No Spark session is needed.

The same ``ast`` walk checks that the engine or its oracle reads every
``CrawlConfig`` field, so an option nothing honours cannot come back."""

import ast
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "fetcho_spark"


def _sources() -> list[Path]:
    files = sorted((ROOT / PKG).rglob("*.py"))
    files += sorted(ROOT.glob("bench*.py")) + [ROOT / "__spark_entry__.py"]
    files += sorted((ROOT / "scripts").glob("*.py"))
    files += sorted((ROOT / "crawlbench").glob("*.py"))
    return files


def _package_of(path: Path) -> str | None:
    """Dotted package a file's relative imports resolve against."""
    rel = path.relative_to(ROOT)
    if rel.parts[0] != PKG:
        return None
    return ".".join(rel.with_suffix("").parts[:-1])


def _internal_imports(path: Path):
    """Yield ``(lineno, module, name_or_None)`` for each fetcho_spark
    import anywhere in the file."""
    package = _package_of(path)
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PKG:
                    yield node.lineno, alias.name, None
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                if package is None:
                    continue
                module = importlib.util.resolve_name(
                    "." * node.level + (node.module or ""), package)
            else:
                module = node.module or ""
            if module.split(".")[0] != PKG:
                continue
            for alias in node.names:
                yield node.lineno, module, alias.name


def _resolves(module: str, name: str | None) -> str | None:
    """None when the import works, else the reason it does not."""
    try:
        mod = importlib.import_module(module)
    except Exception as e:  # noqa: BLE001 - report any import failure
        return f"import {module}: {type(e).__name__}: {e}"
    if name is None or name == "*" or hasattr(mod, name):
        return None
    try:
        importlib.import_module(f"{module}.{name}")   # a submodule
        return None
    except ModuleNotFoundError:
        return f"{module} has no name {name!r}"


def test_every_internal_import_resolves():
    found, broken = [], []
    for path in _sources():
        for lineno, module, name in _internal_imports(path):
            found.append((path.relative_to(ROOT).as_posix(), module, name))
            why = _resolves(module, name)
            if why:
                broken.append(f"{path.relative_to(ROOT)}:{lineno}: {why}")
    assert not broken, "\n".join(broken)
    # the walk sees relative imports inside function bodies
    assert ("fetcho_spark/operators/multimodal.py",
            "fetcho_spark.functions.mediameta", "probe_image") in found
    assert ("fetcho_spark/functions/codec.py",
            "fetcho_spark.functions.pure_codec", "PureCodec") in found
    assert ("__spark_entry__.py", "fetcho_spark.streaming.loop",
            "windowed_event_counts") in found


def _cfg_reads(tree: ast.AST) -> set[str]:
    """Attribute names read off ``cfg`` or ``self.cfg``."""
    reads = set()
    for node in ast.walk(tree):
        if not isinstance(node, ast.Attribute):
            continue
        v = node.value
        if (isinstance(v, ast.Name) and v.id == "cfg") or (
                isinstance(v, ast.Attribute) and v.attr == "cfg"
                and isinstance(v.value, ast.Name) and v.value.id == "self"):
            reads.add(node.attr)
    return reads


def test_every_crawl_config_field_is_read():
    trees = {f: ast.parse((ROOT / PKG / f).read_text(), f)
             for f in ("crawl.py", "simulator.py")}
    cls = next(n for n in ast.walk(trees["crawl.py"])
               if isinstance(n, ast.ClassDef) and n.name == "CrawlConfig")
    fields = {n.target.id for n in cls.body if isinstance(n, ast.AnnAssign)}
    read = set().union(*(_cfg_reads(t) for t in trees.values()))
    assert "seed" in fields and "seed" in read   # the walk sees both sides
    assert not fields - read, f"CrawlConfig fields nothing reads: " \
        f"{sorted(fields - read)}"
