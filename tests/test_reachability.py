"""Dead-code guard: every module of the package must be reachable by
static imports from a production entry point — the pipeline, the gate
queries, the benches, ``__spark_entry__.py``, or the operational scripts.
And the other way round: every package import anywhere in the repo must
name a module and a top-level name that still exist, so deleting code
cannot leave a script that no test runs importing it.  Inside a reached
module, every top-level ``def`` must be named by production code outside
its own body, or it is dead too.

AST-only (no Spark, no package import): walks ``import`` / ``from ...
import`` statements anywhere in each file, function-local imports
included, and the identifiers production code uses.  A module or function
nothing in production reaches is dead code; delete it with its tests
instead of keeping it alive from a test file.
"""

from __future__ import annotations

import ast
import functools
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "agenticknowledgegraphconstructionsystem_spark"

ENTRY_GLOBS = (
    f"{PKG}/plans/pipeline.py",
    f"{PKG}/gate*.py",
    "bench.py",
    "bench_extra.py",
    "perfbench/*.py",
    "__spark_entry__.py",
    "scripts/check_gate.py",
    "scripts/ab_bench.py",
    "scripts/run_pipeline.py",
    "scripts/gen_sf.py",
    "scripts/scaling_bench.py",
)

# The media-codec tier is unreached as well, but its codec tests leave
# with it, so it is deleted in slices.  This set may only shrink:
# a module listed here that disappears or becomes reachable fails
# test_pending_deletions_are_current until it is taken off.
PENDING_DELETION = frozenset(
    f"{PKG}.{m}"
    for m in (
        "functions.flac",
        "operators.multimodal",
    )
)


def _module_name(path: Path) -> str | None:
    rel = path.relative_to(ROOT).with_suffix("")
    if rel.parts[0] != PKG:
        return None
    parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
    return ".".join(parts)


def _package_modules() -> dict[str, Path]:
    out = {}
    for p in (ROOT / PKG).rglob("*.py"):
        out[_module_name(p)] = p
    return out


def _import_nodes(path: Path):
    """(node, absolute module) for every import statement in ``path``;
    the module is None for a plain ``import``.  Relative imports outside
    the package are skipped."""
    name = _module_name(path)
    if name is None:
        package = None
    elif path.name == "__init__.py":
        package = name
    else:
        package = name.rpartition(".")[0]
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            yield node, None
        elif isinstance(node, ast.ImportFrom):
            if not node.level:
                yield node, node.module or ""
            elif package is not None:
                base = package.split(".")
                base = base[: len(base) - (node.level - 1)]
                yield node, ".".join(base + ([node.module] if node.module else []))


def _imports(path: Path, modules: dict[str, Path]) -> set[str]:
    """Package modules ``path`` imports (absolute or relative)."""
    found: set[str] = set()
    for node, mod in _import_nodes(path):
        if mod is None:
            targets = [a.name for a in node.names]
        else:
            # ``from pkg.sub import name``: name may itself be a submodule
            targets = [mod] + [f"{mod}.{a.name}" for a in node.names]
        for t in targets:
            # importing a.b.c also runs a/__init__ and a.b/__init__
            parts = t.split(".")
            for i in range(1, len(parts) + 1):
                cand = ".".join(parts[:i])
                if cand in modules:
                    found.add(cand)
    return found


def unreached_modules() -> list[str]:
    modules = _package_modules()
    entries = [p for g in ENTRY_GLOBS for p in sorted(ROOT.glob(g))]
    seen: set[str] = set()
    todo: list[Path] = list(entries)
    for p in entries:
        n = _module_name(p)
        if n is not None:
            seen.add(n)
    while todo:
        for m in _imports(todo.pop(), modules):
            if m not in seen:
                seen.add(m)
                todo.append(modules[m])
    return sorted(set(modules) - seen)


def test_entry_points_exist():
    for g in ENTRY_GLOBS:
        assert list(ROOT.glob(g)), f"entry point {g} matches no file"


def test_every_package_module_is_reachable():
    dead = sorted(set(unreached_modules()) - PENDING_DELETION)
    assert not dead, (
        "modules no production entry point imports (delete them, with their "
        f"tests): {', '.join(dead)}"
    )


def test_pending_deletions_are_current():
    stale = sorted(PENDING_DELETION - set(unreached_modules()))
    assert not stale, (
        f"no longer pending deletion (gone or now reachable): {', '.join(stale)}"
    )


IMPORTER_GLOBS = (
    f"{PKG}/**/*.py",
    "scripts/*.py",
    "tests/*.py",
    "bench*.py",
    "perfbench/*.py",
    "__spark_entry__.py",
)


def test_no_file_names_a_checkout_directory():
    """A hard-coded checkout path (``sys.path.insert(0, "<abs dir>")``,
    ``REPO = Path("<abs dir>")``) makes tests, the gate or the CLI run
    from any other checkout silently import that checkout's package.
    Every absolute path written in a package, script or test file
    (code, strings, comments) must not name a directory that holds
    this package; such files derive the root from ``__file__``."""
    token = re.compile(r"(?<![\w.~/:])(?:/[\w.-]+)+")
    found = [
        f"{p.relative_to(ROOT)}:{n}: {m}"
        for g in (f"{PKG}/**/*.py", "scripts/*.py", "tests/*.py")
        for p in sorted(ROOT.glob(g))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        for m in token.findall(line)
        if (Path(m) / PKG / "__init__.py").is_file()
    ]
    assert not found, "absolute checkout paths: " + ", ".join(found)


def _top_level_names(path: Path) -> set[str]:
    """Names bound at module level (through if/try/with blocks, not inside
    functions or classes)."""
    names: set[str] = set()
    todo = list(ast.parse(path.read_text(), str(path)).body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        else:
            for field in ("body", "orelse", "finalbody", "handlers"):
                todo.extend(getattr(node, field, []))
    return names


def test_every_package_import_resolves():
    modules = _package_modules()
    names = {m: _top_level_names(p) for m, p in modules.items()}
    broken = []
    for p in sorted({p for g in IMPORTER_GLOBS for p in ROOT.glob(g)}):
        where = p.relative_to(ROOT)
        for node, mod in _import_nodes(p):
            if mod is None:
                missing = [
                    a.name for a in node.names
                    if a.name.split(".")[0] == PKG and a.name not in modules
                ]
            elif mod.split(".")[0] != PKG:
                continue
            elif mod not in modules:
                missing = [mod]
            else:
                missing = [
                    f"{mod}.{a.name}" for a in node.names
                    if a.name != "*"
                    and a.name not in names[mod]
                    and f"{mod}.{a.name}" not in modules
                ]
            broken += [f"{where}:{node.lineno} {m}" for m in missing]
    assert not broken, "imports of package modules or names that do not exist: " + (
        ", ".join(broken)
    )


# Top-level defs of reached modules that production code does not name
# but that stay on purpose, as "<module>.<def>" under the package, each
# with the reason it stays.  An entry that disappears or gains a
# production reference fails test_pending_dead_defs_are_current.
KEPT_BY_DESIGN = {
    "semantics.affine_hash": "Python spec of functions/hashing.affine_col; the tri-engine hash test",
    "semantics.char_ngrams": "Python spec of the linking name shingles; test_linking's brute force",
    "semantics.extraction_stats": "Python spec of the S8 extract stats; test_extract's oracle",
    "semantics.is_valid": "Python spec of the validated-edge error rule in operators/validation; test_validated_flag",
    "semantics.poly_hash": "Python spec of functions/hashing.poly_hash_col; the tri-engine hash test",
    "semantics.should_flag_for_review": "Python spec of the review-flag rule in operators/validation; test_validated_flag",
    "semantics.word_ngrams": "Python spec of dedup.word_ngram_shingles; test_dedup_similarity's brute force",
    "operators.similarity.cosine_topk": "exact top-k ground truth for the ANN recall tests",
    "functions.pdf.build_pdf": "fixture writer for the PDF extraction tests",
    "sources.warc.write_warc_http": "fixture writer for the HTTP-aware WARC tests",
}

# Unreferenced defs still waiting to be deleted or wired into a stage.
# This set may only shrink: an entry that disappears or gains a production
# reference fails test_pending_dead_defs_are_current until it is taken off.
PENDING_DEAD_DEFS = frozenset(
    (
        "operators.dedup.dropped_band_buckets",
        "operators.lines.census_overflow",
        "operators.linking.dropped_name_shingles",
    )
)


def _used_names(path: Path) -> set[str]:
    """Identifiers ``path`` uses: names and attribute names, each outside
    the body of a function of the same name (a recursive call does not
    keep a def alive).  Docstrings, comments and imports are not uses: an
    imported name counts only where the file's code names it, under its
    ``as`` alias if it has one."""
    used: set[str] = set()
    aliases: dict[str, str] = {}

    def walk(node: ast.AST, inside: frozenset[str]) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            inside = inside | {node.name}
        if isinstance(node, ast.Name):
            name = node.id
        elif isinstance(node, ast.Attribute):
            name = node.attr
        else:
            name = None
        if name is not None and name not in inside:
            used.add(name)
        if isinstance(node, ast.ImportFrom):
            aliases.update((a.asname, a.name) for a in node.names if a.asname)
        for child in ast.iter_child_nodes(node):
            walk(child, inside)

    walk(ast.parse(path.read_text(), str(path)), frozenset())
    return used | {name for alias, name in aliases.items() if alias in used}


@functools.cache
def unreferenced_defs() -> tuple[str, ...]:
    """Top-level defs of reached package modules that no production file
    (reached package modules and the entry points) names.  Matching is by
    bare name, so a def shadowed by a same-named use elsewhere passes."""
    modules = _package_modules()
    unreached = set(unreached_modules())
    live = {m: p for m, p in modules.items() if m not in unreached}
    prod = set(live.values()) | {p for g in ENTRY_GLOBS for p in ROOT.glob(g)}
    used: set[str] = set()
    for p in prod:
        used |= _used_names(p)
    dead = []
    for m, p in live.items():
        for node in ast.parse(p.read_text(), str(p)).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and node.name not in used
            ):
                dead.append(f"{m.removeprefix(PKG + '.')}.{node.name}")
    return tuple(sorted(dead))


def test_every_package_def_is_referenced():
    dead = sorted(
        set(unreferenced_defs()) - PENDING_DEAD_DEFS - set(KEPT_BY_DESIGN)
    )
    assert not dead, (
        "top-level defs no production code names (delete them, with their "
        f"tests): {', '.join(dead)}"
    )


def test_pending_dead_defs_are_current():
    assert not PENDING_DEAD_DEFS & set(KEPT_BY_DESIGN)
    stale = sorted(
        (PENDING_DEAD_DEFS | set(KEPT_BY_DESIGN)) - set(unreferenced_defs())
    )
    assert not stale, (
        f"no longer unreferenced (gone or now referenced): {', '.join(stale)}"
    )
