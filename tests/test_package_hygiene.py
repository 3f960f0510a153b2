"""Static package checks (no Spark): shared kernels live in one place,
and query modules reach carried state only through
`operators.incremental.fold_state`."""

from __future__ import annotations

import ast
import hashlib
from collections import defaultdict
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "fraud_detection_in_banking_transactions_using_hadoop_spark"
MIN_BODY_LINES = 6  # bodies of 5 lines or fewer may repeat


def _body_without_docstring(fn: ast.FunctionDef) -> list[ast.stmt]:
    body = fn.body
    first = body[0]
    if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant) and isinstance(first.value.value, str):
        body = body[1:]
    return body


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path, ast.parse(path.read_text(), filename=str(path))


def test_no_duplicate_module_level_function_bodies():
    """A helper copied into a second module drifts; move it to one home
    and import it instead."""
    seen: dict[str, list[str]] = defaultdict(list)
    for path, tree in _modules():
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            body = _body_without_docstring(node)
            if not body or body[-1].end_lineno - body[0].lineno + 1 < MIN_BODY_LINES:
                continue
            digest = hashlib.sha256("\n".join(ast.dump(s) for s in body).encode()).hexdigest()
            seen[digest].append(f"{path.relative_to(PKG)}:{node.name}")
    dups = [names for names in seen.values() if len(names) > 1]
    assert not dups, f"duplicate function bodies: {dups}"


def test_query_modules_do_not_drive_the_state_swap():
    """The recover/read/swap protocol and its first-batch rule belong to
    `fold_state`; a query module that calls the swap directly is a
    copy that can drift (e.g. swallow a failed swap)."""
    offenders = []
    for path, tree in _modules():
        if not path.name.startswith("queries"):
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                names = {a.name for a in node.names} & {"recover_table", "atomic_overwrite"}
                if names:
                    offenders.append(f"{path.name}:{node.lineno} {sorted(names)}")
    assert not offenders, offenders
