"""The static reach census (``scripts/census.py``): every top-level def
of the package that the product surface cannot reach is listed in
``ALLOWED`` with a reason, so dead code cannot grow back unseen."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

import census  # noqa: E402


def test_unreached_defs_are_exactly_the_allowlist():
    found = census.census()
    assert set(found) == set(census.ALLOWED), {
        "unreached, not allowed": sorted(set(found) - set(census.ALLOWED)),
        "allowed, not unreached": sorted(set(census.ALLOWED) - set(found)),
    }
    assert all(reason.strip() for reason in census.ALLOWED.values())


def test_census_reach_rules(tmp_path):
    """A def is reached through a name in an entry file, a def of
    ``app``, a string constant or table of a package module, or another
    reached def; a package import alone reaches nothing."""
    pkg = tmp_path / census.PKG
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "ops.py").write_text(
        "TABLE = {'by_string': 1}\n"
        "def by_entry(): return helper()\n"
        "def helper(): pass\n"
        "def by_string(): pass\n"
        "def by_table(): pass\n"
        "REGISTRY = [by_table]\n"
        "def dead(): return dead_helper()\n"
        "def dead_helper(): pass\n"
        "class Dead:\n"
        "    def by_entry(self): pass\n"
    )
    (pkg / "app.py").write_text("import os\ndef main(): return by_app()\n")
    (pkg / "more.py").write_text("from .ops import dead\ndef by_app(): pass\n")
    (tmp_path / "bench.py").write_text("from x.ops import by_entry\n")
    assert set(census.census(str(tmp_path))) == {"ops.dead", "ops.dead_helper", "ops.Dead"}
