#!/usr/bin/env python
"""Static reach census: which top-level defs of the package can the
product run?

The roots are every name in ``__spark_entry__.py``, ``bench.py`` and
``perfbench/*.py``; every def of the ``app`` and ``webdash`` modules;
and the non-import module-level statements of every package module
(registry and layout tables).  A top-level def/class of the package is
reached when its name appears in a root or in a reached def, to a
fixpoint.  A name is a ``Name``, an ``Attribute``, an import alias or
an identifier-shaped string constant.  Matching by name only
over-approximates reach: the census may keep a dead def, but it calls
a live one dead only if the program computes a name at run time, which
the package does not do.

    python scripts/census.py      # prints the unreached defs, exit 1 on drift

Every unreached def must be listed in ``ALLOWED`` with the reason it
stays; ``tests/test_census.py`` holds the two sets equal.
"""

from __future__ import annotations

import ast
import glob
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "clickstreaming_end_to_end_data_engineering_project_spark"
ENTRY = ["__spark_entry__.py", "bench.py", "perfbench/*.py"]
ENTRY_MODULES = {"app", "webdash"}
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

# Unreached, but deleted in a second step together with their 22 tests,
# so no single change retires more than about 70 tests (ROADMAP #6).
_NEXT_STEP = "unreached; deleted with its tests in the census's second step"
_SECOND_STEP = [
    "functions.udfs.geo_mean", "functions.udfs.register_udfs",
    "functions.udfs.token_count", "functions.udfs.vector_norm",
    "operators.pii.pii_audit", "operators.pii.scrub_pii",
    "operators.scd.asof_join_scd2", "operators.scd.scd2_apply_table",
    "operators.similarity.ivf_topk_indexed_batch",
    "operators.skew.salted_join", "operators.skew.write_bucketed",
    "operators.stream_dedup.dedup_stream",
    "sources.formats.read_csv", "sources.formats.read_json_lines",
    "sources.formats.read_parquet", "sources.formats.write_partitioned_parquet",
    "sources.formats.write_zordered", "sources.formats.zorder_value",
    "streaming.sinks.TrendingSink",
]

ALLOWED = {
    **{q: _NEXT_STEP for q in _SECOND_STEP},
    "operators.groupedmap.normalize_per_group_expr":
        "reference implementation that tests compare normalize_per_group against",
    "operators.sessions.sessionize_via_lag":
        "reference implementation that tests compare sessionize against",
    "operators.similarity.anchor_pq_codebooks":
        "driver twin of pq_adc_report's anchor codebook; the pinned job "
        "fixtures and the PQ/IVFPQ tests build untrained codebooks with it",
    "plans.digest.pinned_query_names":
        "the plan-digest pin tool (scripts/plan_digests.py, tests/test_plan_digests.py)",
    "plans.digest.plan_digest":
        "the plan-digest pin tool (scripts/plan_digests.py, tests/test_plan_digests.py)",
    "sources.generator.synthetic_clickstream":
        "batch twin of the reference generator; the wire-schema parity tests "
        "of device_stats_pipeline build their events with it",
    "sources.tables.register_views":
        "README's raw-SQL surface over the reference's Postgres tables",
    "streaming.sinks.JdbcSink": "the paper's Postgres sink",
    "streaming.sinks.RedisMetricsSink": "the paper's Redis sink",
    "streaming.sinks.write_kafka": "the paper's Kafka output",
}


def names(node: ast.AST) -> set[str]:
    """Every name ``node`` mentions (see the module docstring)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(p for p in (n.name.split(".") + [n.asname]) if p)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                and n.value.isidentifier():
            out.add(n.value)
    return out


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def census(root: str = ROOT) -> set[str]:
    """Qualified names (``module.def``) of the unreached defs."""
    reached = set()
    for pattern in ENTRY:
        for path in glob.glob(os.path.join(root, pattern)):
            reached |= names(_parse(path))
    defs = {}  # qualified name -> node
    for path in sorted(glob.glob(os.path.join(root, PKG, "**", "*.py"),
                                 recursive=True)):
        rel = os.path.relpath(path, os.path.join(root, PKG))
        mod = rel[:-3].replace(os.sep, ".").removesuffix(".__init__")
        for node in _parse(path).body:
            if isinstance(node, DEFS):
                if mod in ENTRY_MODULES:
                    reached |= names(node)
                else:
                    defs[f"{mod}.{node.name}"] = node
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                reached |= names(node)
    while True:
        hit = [q for q, node in defs.items() if node.name in reached]
        if not hit:
            return set(defs)
        for q in hit:
            reached |= names(defs.pop(q))


if __name__ == "__main__":
    found = census()
    for q in sorted(found | ALLOWED.keys()):
        reason = ALLOWED.get(q, "NOT ALLOWED: delete it or list it with a reason")
        if q not in found:
            reason = "STALE: reached or gone; drop it from ALLOWED"
        print(f"{q}: {reason}")
    sys.exit(0 if found == ALLOWED.keys() else 1)
