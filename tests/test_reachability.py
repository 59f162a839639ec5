"""No package code that only the tests reach.

The roots are every non-test ``.py`` file outside the package (the oracle
entry point, benchmarks, jobs, tools, examples) plus the CLI. A package
module must be imported, transitively, from a root; a public top-level
function or class of a reached module, and every method of its top-level
classes that is not a dunder, must be named (called, imported or looked up
by string) somewhere in the roots or in reached package code outside its
own body. Whatever is kept on purpose is listed below with its
reason, so new dead code fails here instead of accumulating.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "cardinality_estimation_evaluation_framework_spark"

_FLOOR = "kept while tier-1 tests exercise it (ROADMAP item 6)"

#: modules no root imports, kept on purpose
KEPT_MODULES = {
    "plans.checkpoint": "resumable-from-checkpoint builds (north rule)",
    "sources.io": "the Parquet/Iceberg table seam (north rule)",
    "simulation.parameters_sampler": "mirrors the reference's parameter sampler",
    "operators.multimodal": _FLOOR,
    "functions.jpeg_codec": _FLOOR,
    "functions.png_codec": _FLOOR,
    "functions.wav_codec": _FLOOR,
    "functions.y4m_codec": _FLOOR,
    "streaming.stream_sketch": _FLOOR,
}

#: public definitions of reached modules that only tests name, kept on purpose
KEPT_DEFINITIONS = {
    "aggregate.salted_repartition": "salted repartitioning (north rule)",
    "aggregate.salted_exact_counts": "salted repartitioning (north rule)",
    "frequency_ops.heavy_hitters_countmin": "count-min heavy hitters (north rule)",
    "bloom.classic_union_estimate": "mirrors the reference estimator",
    "noisers.IdentityNoiser": "mirrors the reference noiser",
    "noisers.AddRandomElementsNoiser": "mirrors the reference noiser",
    "noisers.DiscreteGaussianEstimateNoiser": "mirrors the reference noiser",
    "configs.get_evaluation_config": "mirrors the reference config lookup",
    "report.parse_estimator_name": "mirrors the reference report",
    "config_grids.stress_test_cardinality_global_dp": "mirrors a reference grid",
    "config_grids.bloom_filter_first_moment_uniform": "mirrors a reference grid",
    "config_grids.liquid_legions_sequential": "mirrors a reference grid",
    "hashing.farmhash_or_none": "bit-exact farmhash parity when installed",
    "stratified.build_stratified": _FLOOR,
    "text.winnow_fp_array": _FLOOR + "; only the streaming module calls it",
    "liquid_legions.Sampler.sample_diff": "mirrors the reference (ref :537-557)",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}


def _roots() -> list[Path]:
    out = [ROOT / PKG / "cli.py"]
    for p in ROOT.rglob("*.py"):
        rel = p.relative_to(ROOT).parts
        if rel[0] in (PKG, "tests") or p.name.startswith("test_"):
            continue
        if any(part.startswith(".") for part in rel):
            continue
        out.append(p)
    return out


def _imported_modules(path: Path, modules: dict[str, Path]) -> set[str]:
    """Package modules ``path`` imports. The code uses absolute imports only;
    a relative one would leave its target unreached and fail loudly here."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1)
                   if ".".join(parts[:i]) in modules)
    return out


def _reached(modules: dict[str, Path]) -> set[str]:
    seen: set[str] = set()
    todo = [m for r in _roots() for m in _imported_modules(r, modules)]
    while todo:
        m = todo.pop()
        if m not in seen:
            seen.add(m)
            todo.extend(_imported_modules(modules[m], modules))
    return seen


def _names(node: ast.AST) -> Counter:
    out: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out[n.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out[n.value] += 1
    return out


def test_every_package_module_is_reached():
    modules = _package_modules()
    unreached = set(modules) - _reached(modules)
    kept = {f"{PKG}.{m}" for m in KEPT_MODULES}
    assert sorted(kept - unreached) == []  # a stale entry: deleted or now reached
    parents = {m.rsplit(".", 1)[0] for m in kept}
    assert sorted(unreached - kept - parents) == []


def test_every_public_definition_is_named_outside_the_tests():
    modules = _package_modules()
    reached = _reached(modules)
    uses: Counter = Counter()
    for root in _roots():
        uses += _names(ast.parse(root.read_text()))
    trees = {m: ast.parse(modules[m].read_text()) for m in reached}
    for tree in trees.values():
        uses += _names(tree)

    def unused(node: ast.AST) -> bool:
        return uses[node.name] - _names(node)[node.name] <= 0

    unnamed = []
    for m, tree in trees.items():
        short = m.rsplit(".", 1)[-1]
        for node in tree.body:
            if (isinstance(node, (ast.FunctionDef, ast.ClassDef))
                    and not node.name.startswith("_") and unused(node)):
                unnamed.append(f"{short}.{node.name}")
            if isinstance(node, ast.ClassDef):
                unnamed.extend(
                    f"{short}.{node.name}.{fn.name}" for fn in node.body
                    if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and not (fn.name.startswith("__") and fn.name.endswith("__"))
                    and unused(fn))
    assert sorted(set(unnamed) - set(KEPT_DEFINITIONS)) == []
    assert sorted(set(KEPT_DEFINITIONS) - set(unnamed)) == []


def test_tokenizer_regex_is_written_once():
    """One tokenizer: its separator regex is spelled out only in
    operators/text.py (``TOKEN_SPLIT_RE``); every other package or tools
    source reads words through ``text.words`` / ``text.words_sql``."""
    home = ROOT / PKG / "operators" / "text.py"
    sources = [*(ROOT / PKG).rglob("*.py"), *(ROOT / "tools").rglob("*.py")]
    copies = sorted(str(p.relative_to(ROOT)) for p in sources
                    if p != home and "[^a-z0-9]+" in p.read_text())
    assert copies == []


def test_hll_estimate_is_written_once():
    """One HLL++ register estimate: alpha_m * m^2 / sum(2^-M) over numpy
    registers is spelled only in ``hll.register_estimate``, which every HLL
    kernel and ``sql_sketch.hll_estimate_sql`` call. The per-key SQL
    aggregate in ``sql_sketch.hll_estimates_by_key_sql`` is the one other
    spelling; it uses ``F.pow``, so it does not match here."""
    spellings = []
    for p in sorted((ROOT / PKG).rglob("*.py")):
        src = p.read_text()
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                body = ast.get_source_segment(src, node)
                if "_alpha(" in body and "np.exp2(-" in body:
                    spellings.append(f"{p.relative_to(ROOT / PKG)}:{node.name}")
    assert spellings == ["sketches/hll.py:register_estimate"]
