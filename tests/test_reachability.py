"""No top-level def that no entrypoint reaches.

An AST name closure from the real entrypoints over the package and
``__spark_entry__.py``:

- roots: the functions ``queries()`` returns, ``oracle_sql`` and
  ``entry``; every module-level statement and decorator in the package;
  every name used in the runnable scripts (``ENTRY_SCRIPTS``);
- a reached def adds every name its body uses;
- an ``ast.Name``, an ``ast.Attribute`` and an identifier-shaped string
  constant each count as a reference (comments never do). Imports are
  not references, so a def only imported somewhere is not reached.

Names are matched without their module, which can only over-reach: a
def is flagged only when no reached code names it at all.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "osm_sidewalkreator_spark"
ENTRY = ROOT / "__spark_entry__.py"
ENTRY_SCRIPTS = (
    "bench.py", "job.py", "job_curate.py", "perfbench/*.py",
    "scripts/verify_local.py", "scripts/dump_plans.py")

# Each kept def with the reason it stays although no entrypoint calls it.
KEEP = {
    "osm_sidewalkreator_spark.sources.golden.available":
        "skip guard of the reference-fixture tests",
    "__spark_entry__.q_golden_protoblock_faces":
        "reference-fidelity check (29-face recovery) next to "
        "tests/test_golden_fixtures.py",
    "__spark_entry__.q_golden_crossing_length":
        "reference-fidelity check of crossing lengths",
    "__spark_entry__.q_golden_kerb_anchor":
        "reference-fidelity check of kerb anchors",
    "__spark_entry__._golden_center":
        "centre of the reference fixture, used by the golden checks",
    "__spark_entry__._golden_kerb_anchor_sql":
        "DuckDB side of q_golden_kerb_anchor",
    "__spark_entry__._golden_crossing_length_sql":
        "DuckDB side of q_golden_crossing_length",
    "osm_sidewalkreator_spark.operators.raster.rasterize_segments":
        "the only vector->raster path of the raster<->vector joins",
    "osm_sidewalkreator_spark.operators.raster._axis_interval":
        "helper of rasterize_segments",
}

# Unreached defs whose deletion is deferred to the next change, which
# retires them with the 22 tests that still exercise them (deleting
# them here too would have retired 55 tests in one change).
# Module -> its deferred defs and the tests that exercise them.
DEFERRED_BY_MODULE = {
    "operators.bpe": (
        ("_encode_word", "bpe_encode", "bpe_train", "bpe_word_counts",
         "train_bpe_on_corpus"), "tests/test_bpe.py"),
    "operators.embed": (
        ("PCAModel", "embedding_moments", "fit_pca", "project"),
        "tests/test_embed_pca.py"),
    "operators.sampling": (
        ("epoch_upsample", "group_tail_trim", "group_quantile_filter"),
        "tests/test_sampling.py"),
    "operators.textops": (
        ("content_digests", "dedup_against"),
        "tests/test_repeated_spans.py"),
    "operators.multimodal": (
        ("media_byte_stats",), "tests/test_retired_queries.py"),
    "operators.ranking": (("bm25_topk",), "tests/test_ranking.py"),
}
DEFERRED = {
    f"osm_sidewalkreator_spark.{mod}.{name}": tests
    for mod, (names, tests) in DEFERRED_BY_MODULE.items()
    for name in names}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _refs(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and _IDENT.match(n.value)):
            out.add(n.value)
    return out


def _module_name(path: Path) -> str:
    rel = path.relative_to(ROOT).with_suffix("")
    return ".".join(rel.parts)


def _entry_roots(tree: ast.Module) -> set[str]:
    roots = {"oracle_sql", "entry"}
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name == "queries":
            for ret in ast.walk(node):
                if isinstance(ret, ast.Return) and isinstance(
                        ret.value, ast.Dict):
                    roots |= {v.id for v in ret.value.values
                              if isinstance(v, ast.Name)}
    return roots


def unreached_defs() -> dict[str, int]:
    """Qualified name -> line count of each top-level def not reached."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    reached: set[str] = set()
    pending: list[str] = []

    def reach(names):
        for name in names - reached:
            reached.add(name)
            pending.append(name)

    sources = sorted(PACKAGE.rglob("*.py")) + [ENTRY]
    for path in sources:
        tree = ast.parse(path.read_text(), str(path))
        mod = _module_name(path)
        for node in tree.body:
            if isinstance(node, _DEFS):
                defs.setdefault(node.name, []).append((mod, node))
                if path != ENTRY:
                    for dec in node.decorator_list:
                        reach(_refs(dec))
            elif path != ENTRY:
                reach(_refs(node))
        if path == ENTRY:
            reach(_entry_roots(tree))
    for pattern in ENTRY_SCRIPTS:
        for path in sorted(ROOT.glob(pattern)):
            reach(_refs(ast.parse(path.read_text(), str(path))))

    while pending:
        for _, node in defs.get(pending.pop(), ()):
            reach(_refs(node))

    return {f"{mod}.{name}": node.end_lineno - node.lineno + 1
            for name, found in defs.items() if name not in reached
            for mod, node in found}


def test_every_top_level_def_is_reached_or_kept():
    unreached = unreached_defs()
    assert len(KEEP) <= 9
    dead = sorted(set(unreached) - set(KEEP) - set(DEFERRED))
    assert not dead, (
        f"{len(dead)} top-level defs ({sum(unreached[d] for d in dead)} "
        "lines) that no entrypoint reaches:\n" + "\n".join(dead))
    # a keep-list or deferred entry that is now reached (or gone) is stale
    listed = set(KEEP) | set(DEFERRED)
    assert listed <= set(unreached), sorted(listed - set(unreached))
