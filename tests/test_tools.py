"""Tool tests: gen_scale's subset mode (VERDICT r6 task #3), and the
scripts' imports from the package.

Subset mode must produce valid tables for SELF-KEYED tables (orders,
lineitem) whose foreign-key spaces are owned by out-of-subset tables,
with offsets identical to a full-corpus run — otherwise subset-built
spot-check corpora silently break FK joins.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.1"


@pytest.mark.parametrize("subset", ["lineitem", "orders"])
def test_gen_scale_subset_self_keyed(tmp_path, subset):
    out = subprocess.run(
        [sys.executable, f"{REPO}/tools/gen_scale.py", "2",
         str(tmp_path), subset],
        capture_output=True, text=True,
    )
    assert out.returncode == 0, out.stderr
    t = pq.read_table(f"{tmp_path}/{subset}.parquet")
    src = pq.read_table(f"{SRC}/{subset}.parquet")
    assert t.num_rows == 2 * src.num_rows
    # offsets must come from the OWNING table's key space even when
    # that table is outside the subset: copy-1 o_custkey/l_suppkey
    # minus copy-0 equals max(owner key)+1 from the source corpus
    owner = {
        "lineitem": [("l_suppkey", "supplier", "s_suppkey"),
                     ("l_partkey", "part", "p_partkey"),
                     ("l_orderkey", "orders", "o_orderkey")],
        "orders": [("o_custkey", "customer", "c_custkey"),
                   ("o_orderkey", "orders", "o_orderkey")],
    }[subset]
    n = src.num_rows
    for col, otab, ocol in owner:
        ext = pc.max(
            pq.read_table(f"{SRC}/{otab}.parquet", columns=[ocol])[ocol]
        ).as_py() + 1
        copy0 = t[col].slice(0, n).to_pylist()
        copy1 = t[col].slice(n, n).to_pylist()
        assert copy1 == [v + ext for v in copy0], (col, ext)


def test_scripts_import_only_names_the_package_has():
    """Every `from algoritmos_etl_spark... import name` in the scripts
    (tools/, perfbench/, bench.py, __spark_entry__.py) names something
    the package still defines. Most of these imports sit inside `main()`
    and only run when the script does, so a moved constant would
    otherwise surface as an ImportError at the next re-pin."""
    import ast
    import importlib

    scripts = [os.path.join(REPO, f) for f in ("bench.py", "__spark_entry__.py")]
    for sub in ("tools", "perfbench", os.path.join("perfbench", "tests")):
        d = os.path.join(REPO, sub)
        scripts += [os.path.join(d, f) for f in sorted(os.listdir(d)) if f.endswith(".py")]
    checked, missing = 0, []
    for path in scripts:
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.ImportFrom)
                and not node.level
                and (node.module or "").split(".")[0] == "algoritmos_etl_spark"
            ):
                continue
            mod = importlib.import_module(node.module)
            for alias in node.names:
                checked += 1
                if not hasattr(mod, alias.name):
                    try:
                        importlib.import_module(f"{node.module}.{alias.name}")
                    except ImportError:
                        missing.append(
                            f"{os.path.relpath(path, REPO)}:{node.lineno} "
                            f"{node.module}.{alias.name}"
                        )
    assert checked > 0
    assert not missing, missing
