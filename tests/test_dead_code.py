"""The package's unreachable set (tools/dead_code.py: an AST name scan from
the query registry, api.py and the entry scripts) is exactly the allow-list
of pinned NumPy twins; anything else no root reaches gets deleted."""

from __future__ import annotations

import sys

from tests.conftest import REPO

sys.path.insert(0, str(REPO / "tools"))

import dead_code  # noqa: E402


def test_unreachable_set_is_the_allow_list():
    assert dead_code.unreachable() == dead_code.ALLOWED == {
        "grid.cell_id_np", "grid.covering_cells_np", "grid.parent_np"}


def test_scan_counts_string_literals_but_not_docstrings(tmp_path):
    pkg = tmp_path / dead_code.PKG
    pkg.mkdir()
    (pkg / "m.py").write_text(
        '"""mentions dead_by_doc"""\n'
        "def by_template():\n    pass\n\n"
        "def dead_by_doc():\n    pass\n")
    (tmp_path / "__spark_entry__.py").write_text(
        'TEMPLATE = "Q.by_template(spark)"\n')
    assert dead_code.unreachable(tmp_path) == {"m.dead_by_doc"}
