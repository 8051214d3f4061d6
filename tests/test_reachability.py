"""Every top-level def in the package has a user outside ``tests/``.

AST only: no Spark, and the package is never imported. A top-level
function, class or ``UPPER_CASE`` constant counts as used when its name
appears outside its own definition, as a name, an attribute or a string
constant (``getattr`` and registry lookups go by string), in any non-test
Python file of the repo:
the package itself, ``tools/``, ``perfbench/``, ``bench.py`` and
``__spark_entry__.py``. A ``@register`` decorator marks a query as used.
Import statements alone do not count, so a re-export from an
``__init__`` does not keep a def alive.

Code that only tests reach is deleted together with its tests, or it
is listed in ``ALLOWED`` with the reason it stays.
"""

from __future__ import annotations

import ast
import re
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "data_pipeline_rsna_spark"
CONSTANT = re.compile(r"_?[A-Z][A-Z0-9_]*")

# "<path under the package>:<name>" -> why it stays without a caller
ALLOWED = {
    "functions/md5np.py:md5_digest_bytes":
        "byte-level reference that the md5_words/u28 fast path is "
        "tested against",
    "functions/md5np.py:u28_draws":
        "byte-level reference for u28_draws_from_words",
    "functions/scalars.py:py_round":
        "SURVEY scalar inventory: CPython round (banker's) for the "
        "box-geometry reference operators",
    "functions/scalars.py:seeded_uniform":
        "SURVEY scalar inventory: replayable stand-in for the "
        "reference's unseeded random.uniform",
    "operators/image_kernels.py:shift_bilinear":
        "SURVEY reference augmentation kernel, awaiting a registered "
        "caller",
    "operators/image_kernels.py:shift_cubic":
        "scalar reference pinned by tests/fixtures/"
        "cubic_order3_goldens.npz",
    "operators/image_kernels.py:cut_paste_box":
        "SURVEY reference augmentation kernel, awaiting a registered "
        "caller",
    "operators/image_kernels.py:zoom_box_region":
        "SURVEY reference augmentation kernel, awaiting a registered "
        "caller",
    "operators/labels.py:boxes_per_patient":
        "SURVEY reference operator, awaiting a registered caller",
    "plans/audit.py:unbounded_nested_loop_joins":
        "plan check helper used by the plan tests",
    "plans/audit.py:assert_filter_pushed":
        "plan check helper used by the plan tests",
    "plans/audit.py:assert_columns_pruned":
        "plan check helper used by the plan tests",
    "sinks/json_sink.py:write_json_map_document":
        "SURVEY reference JSON map sink, awaiting a registered caller",
    "sinks/tfrecord.py:frame_record":
        "scalar reference for the vectorized TFRecord framing",
    "sources/readers.py:read_box_annotations_json":
        "SURVEY reference box-annotation reader, awaiting a registered "
        "caller",
    "sources/readers.py:read_examples_list":
        "SURVEY reference examples-list reader, awaiting a registered "
        "caller",
    "sources/readers.py:create_category_index_from_labelmap":
        "SURVEY reference label-map reader, awaiting a registered "
        "caller",
    "sources/readers.py:read_labels_csv_robust":
        "SURVEY reference robust-CSV reader, awaiting a registered "
        "caller",
}


def _non_test_sources() -> list[Path]:
    files = sorted(PACKAGE.rglob("*.py"))
    for sub in ("tools", "perfbench"):
        files += sorted(
            p for p in (ROOT / sub).rglob("*.py") if "tests" not in p.parts
        )
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    return [p for p in files if p.exists()]


def _defined_names(node: ast.stmt) -> list[str]:
    """Names a top-level statement defines that the check covers."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [] if _is_registered(node) else [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [
        t.id for t in targets
        if isinstance(t, ast.Name) and CONSTANT.fullmatch(t.id)
    ]


def _is_registered(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", []):
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(fn, ast.Name) and fn.id == "register":
            return True
    return False


def _unused_defs() -> set[str]:
    trees = {p: ast.parse(p.read_text(), str(p)) for p in _non_test_sources()}
    uses: dict[str, list[tuple[Path, int]]] = defaultdict(list)
    for path, tree in trees.items():
        for n in ast.walk(tree):
            if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
                uses[n.id].append((path, n.lineno))
            elif isinstance(n, ast.Attribute):
                uses[n.attr].append((path, n.lineno))
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                if n.value.isidentifier():
                    uses[n.value].append((path, n.lineno))
    unused = set()
    for path, tree in trees.items():
        if PACKAGE not in path.parents:
            continue
        for node in tree.body:
            for name in _defined_names(node):
                outside = [
                    (p, line)
                    for p, line in uses.get(name, [])
                    if not (
                        p == path and node.lineno <= line <= node.end_lineno
                    )
                ]
                if not outside:
                    unused.add(
                        f"{path.relative_to(PACKAGE).as_posix()}:{name}"
                    )
    return unused


def test_every_package_def_has_a_caller_outside_tests():
    unused = _unused_defs()
    dead = sorted(unused - ALLOWED.keys())
    assert not dead, (
        "top-level defs that only tests (or nothing) reach — delete them "
        "with their tests, or allowlist them with a reason:\n  "
        + "\n  ".join(dead)
    )
    stale = sorted(ALLOWED.keys() - unused)
    assert not stale, (
        "allowlisted defs that now have a caller (or no longer exist) — "
        "drop them from ALLOWED:\n  " + "\n  ".join(stale)
    )
