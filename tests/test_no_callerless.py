"""Every top-level function and class in `realtime_spark/` has a caller.

A name counts as referenced when it appears as a code token (not in a
comment) anywhere in the package, `tests/`, `bench.py` or
`__spark_entry__.py`, other than in its own `def`/`class` line. String
tokens count too: before Python 3.12 an f-string, and the calls inside
it, is one string token, and a name can be reached through a registry key
or `getattr`. A docstring or comment that merely mentions a name is not a
caller, and neither is an import in an `__init__.py`: a re-export.
"""

from __future__ import annotations

import ast
import io
import re
import tokenize
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "realtime_spark"
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _sources() -> list[Path]:
    files = sorted(PACKAGE.rglob("*.py")) + sorted((ROOT / "tests").rglob("*.py"))
    return files + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _docstring_lines(tree: ast.Module) -> set[int]:
    return {
        node.body[0].lineno
        for node in ast.walk(tree)
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        )
        and ast.get_docstring(node, clean=False) is not None
    }


def _import_lines(tree: ast.Module) -> set[int]:
    return {
        line
        for node in ast.walk(tree)
        if isinstance(node, (ast.Import, ast.ImportFrom))
        for line in range(node.lineno, node.end_lineno + 1)
    }


def token_counts(text: str, skip_imports: bool = False) -> Counter:
    """Identifier occurrences in code and non-docstring string tokens,
    leaving out import statements when `skip_imports`."""
    counts: Counter = Counter()
    tree = ast.parse(text)
    docs = _docstring_lines(tree)
    skipped = _import_lines(tree) if skip_imports else set()
    for tok in tokenize.generate_tokens(io.StringIO(text).readline):
        if tok.start[0] in skipped:
            continue
        if tok.type == tokenize.NAME:
            counts[tok.string] += 1
        elif tok.type == tokenize.STRING and tok.start[0] not in docs:
            counts.update(_IDENT.findall(tok.string))
    return counts


def top_level_defs(text: str) -> list[str]:
    return [
        node.name
        for node in ast.parse(text).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    ]


def callerless(texts: dict[str, str], package: set[str]) -> list[str]:
    """`module::name` for each top-level def in `package` files with no
    reference in any of `texts` beyond the definitions themselves."""
    counts: Counter = Counter()
    defs: Counter = Counter()
    where: list[tuple[str, str]] = []
    for path, text in texts.items():
        counts.update(token_counts(text, skip_imports=path.endswith("__init__.py")))
        if path in package:
            for name in top_level_defs(text):
                defs[name] += 1
                where.append((path, name))
    return sorted(f"{p}::{n}" for p, n in where if counts[n] <= defs[n])


def _texts() -> tuple[dict[str, str], set[str]]:
    texts = {str(p.relative_to(ROOT)): p.read_text() for p in _sources()}
    package = {k for k in texts if k.startswith("realtime_spark/")}
    return texts, package


def test_every_package_definition_has_a_caller():
    texts, package = _texts()
    assert callerless(texts, package) == []


def test_guard_flags_an_added_callerless_function():
    texts, package = _texts()
    path = "realtime_spark/operators/dedup.py"
    # built at run time so this file holds no token of the probe's name
    name = "_".join(("", "guard", "probe", "unused"))
    texts[path] += (
        f"\n\ndef {name}(df):\n"
        f'    """Mentions {name} only in its docstring."""\n'
        f"    return df  # {name}\n"
    )
    assert callerless(texts, package) == [f"{path}::{name}"]


def test_guard_flags_a_function_that_is_only_re_exported():
    texts, package = _texts()
    path = "realtime_spark/operators/dedup.py"
    name = "_".join(("guard", "probe", "reexported"))
    texts[path] += f"\n\ndef {name}(df):\n    return df\n"
    init = "realtime_spark/operators/__init__.py"
    texts[init] += (
        "from realtime_spark.operators.dedup import (  # noqa: F401\n"
        f"    {name},\n"
        ")\n"
    )
    assert callerless(texts, package) == [f"{path}::{name}"]
