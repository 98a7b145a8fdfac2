"""Module guard: every package module is either reachable from a front door
(``oni_ml_spark.cli``, ``oni_ml_spark.curate``) or named below with who
needs it. Static ``ast`` walk, imports inside functions included; no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "oni_ml_spark"
FRONT_DOORS = ("oni_ml_spark.cli", "oni_ml_spark.curate")

_TESTS_ONLY = "its own tests only (retire with the code neither front door needs)"

# module -> who needs it, for every module outside the front doors' closure
OUTSIDE_FRONT_DOORS = {
    **{f"oni_ml_spark.datapipe.{m}": _TESTS_ONLY for m in (
        "bpe", "chunking", "contracts", "fuzzy", "incremental", "multimodal",
        "retrieval", "sessions", "sketches", "snapshots", "temporal",
    )},
    **{m: _TESTS_ONLY for m in (
        "oni_ml_spark.ml_pipeline",
        "oni_ml_spark.plans.storage",
        "oni_ml_spark.transforms.semistructured",
        "oni_ml_spark.streaming",
    )},
    **{f"oni_ml_spark.streaming.{m}": _TESTS_ONLY for m in (
        "asof_stream", "drift_stream", "gate_stream", "route_stream",
        "sample_stream", "score_stream", "stateful", "upsert_sink",
    )},
    "oni_ml_spark.pipelines.events": "scripts/lda_scale_check.py (LDA scale check)",
}


def _modules() -> dict[str, Path]:
    out = {}
    for path in PKG.rglob("*.py"):
        parts = list(path.relative_to(PKG.parent).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = path
    return out


def _imports(name: str, path: Path, known: dict[str, Path]) -> set[str]:
    """Package modules ``name`` imports anywhere in its body, plus the
    packages that contain them (importing a submodule runs its parents)."""
    base = name.split(".") if path.name == "__init__.py" else name.split(".")[:-1]
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:
                mod = ".".join(base[: len(base) - node.level + 1] + ([mod] if mod else []))
            targets = [mod] + [f"{mod}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            parts = t.split(".")
            found.update(p for i in range(1, len(parts) + 1)
                         if (p := ".".join(parts[:i])) in known)
    return found


def front_door_closure() -> set[str]:
    known = _modules()
    seen: set[str] = set()
    todo = list(FRONT_DOORS)
    while todo:
        m = todo.pop()
        if m not in seen:
            seen.add(m)
            todo.extend(_imports(m, known[m], known) - seen)
    return seen


def test_closure_walks_imports_inside_functions():
    closure = front_door_closure()
    # cli imports the pipelines and curate the datapipe stages inside
    # main()/run(); a top-level-only walk would miss all of them
    for m in ("oni_ml_spark.pipelines.dns", "oni_ml_spark.datapipe.dedup",
              "oni_ml_spark.plans.audit", "oni_ml_spark.topics"):
        assert m in closure


def test_every_module_outside_the_front_doors_is_accounted_for():
    outside = set(_modules()) - front_door_closure()
    assert outside == set(OUTSIDE_FRONT_DOORS), (
        f"unaccounted: {sorted(outside - set(OUTSIDE_FRONT_DOORS))}; "
        f"now reachable or gone: {sorted(set(OUTSIDE_FRONT_DOORS) - outside)}"
    )
