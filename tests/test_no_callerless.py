"""Every top-level function and class in `realtime_spark/` has a caller,
and every defaulted parameter of one is set by some call.

Functions: a name counts as referenced when it appears as a code token
(not in a comment) anywhere in the package, `tests/`, `rtbench/`,
`bench.py` or `__spark_entry__.py`, other than in its own `def`/`class`
line. String tokens count too: before Python 3.12 an f-string, and the
calls inside it, is one string token, and a name can be reached through a
registry key or `getattr`. A docstring or comment that merely mentions a
name is not a caller, and neither is an import in an `__init__.py`: a
re-export.

Options: the defaulted parameters of every `def` at module top level or
directly inside a top-level class (an `__init__` is keyed by its class
name; closures are out of scope). One is set when some call in the same
sources names the function (as a name or an attribute) and passes it by
keyword, by position, or through `*args`/`**kwargs`, or passes the
function object as an argument together with a keyword of that name (a
forwarding call such as `run(fn, df, rls_enabled=True)`). An option no
call sets is a configuration no test or benchmark covers: its default
belongs in the body.
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
    files = sorted(PACKAGE.rglob("*.py"))
    for sub in ("tests", "rtbench"):
        files += sorted((ROOT / sub).rglob("*.py"))
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


# options no call sets that stay, each with its reason
OPTION_EXCEPTIONS = {
    # on the rtbench cdc_poll path, whose code stays fixed between
    # benchmark changes
    "realtime_spark/sources/wal2json.py::parse_wal2json(json_col)",
}


def _options(tree: ast.Module):
    """(key, name, position) per defaulted parameter in scope; position is
    the index a positional argument takes at a call (None: keyword-only)."""
    defs = [(n.name, n, 0) for n in tree.body if isinstance(n, ast.FunctionDef)]
    for cls in (n for n in tree.body if isinstance(n, ast.ClassDef)):
        for fn in cls.body:
            if isinstance(fn, ast.FunctionDef):
                static = any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in fn.decorator_list
                )
                key = cls.name if fn.name == "__init__" else fn.name
                defs.append((key, fn, 0 if static else 1))
    for key, fn, skip in defs:
        args = fn.args.posonlyargs + fn.args.args
        first = len(args) - len(fn.args.defaults)
        for i in range(first, len(args)):
            yield key, args[i].arg, i - skip
        for arg, default in zip(fn.args.kwonlyargs, fn.args.kw_defaults):
            if default is not None:
                yield key, arg.arg, None


def _callee(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def never_set(texts: dict[str, str], package: set[str]) -> list[str]:
    """`module::function(param)` for each defaulted parameter in `package`
    files that no call in any of `texts` sets."""
    keywords: dict[str, set[str]] = {}
    positional: Counter = Counter()
    starred: set[str] = set()
    trees = {path: ast.parse(text) for path, text in texts.items()}
    for tree in trees.values():
        for call in (n for n in ast.walk(tree) if isinstance(n, ast.Call)):
            named = {k.arg for k in call.keywords if k.arg}
            name = _callee(call.func)
            if name:
                keywords.setdefault(name, set()).update(named)
                positional[name] = max(positional[name], len(call.args))
                if any(isinstance(a, ast.Starred) for a in call.args) or any(
                    k.arg is None for k in call.keywords
                ):
                    starred.add(name)
            for arg in call.args + [k.value for k in call.keywords]:
                passed = _callee(arg)
                if passed:
                    keywords.setdefault(passed, set()).update(named)
    out = []
    for path in sorted(package):
        for key, name, pos in _options(trees[path]):
            if (
                key in starred
                or name in keywords.get(key, ())
                or (pos is not None and positional[key] > pos)
            ):
                continue
            out.append(f"{path}::{key}({name})")
    return sorted(out)


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


def test_every_package_option_is_set_by_some_call():
    """Only the listed exceptions are set by no call, and each still is."""
    texts, package = _texts()
    assert never_set(texts, package) == sorted(OPTION_EXCEPTIONS)


def _probe(texts: dict[str, str], forward: bool) -> tuple[str, str]:
    """Append a function with one defaulted option and a call that does
    not set it; with `forward`, also a call that forwards the function
    object with the option as a keyword."""
    path = "realtime_spark/operators/dedup.py"
    # built at run time so this file holds no token of the probe's names
    name = "_".join(("", "guard", "probe", "option"))
    knob = "_".join(("probe", "knob"))
    texts[path] += f"\n\ndef {name}(df, {knob}=1):\n    return df\n\n\n{name}(None)\n"
    if forward:
        texts[path] += f"run({name}, None, {knob}=2)\n"
    return path, f"{name}({knob})"


def test_option_guard_flags_an_added_option_no_call_sets():
    texts, package = _texts()
    path, option = _probe(texts, forward=False)
    flagged = OPTION_EXCEPTIONS | {f"{path}::{option}"}
    assert never_set(texts, package) == sorted(flagged)


def test_option_guard_counts_a_forwarded_keyword_as_set():
    texts, package = _texts()
    _probe(texts, forward=True)
    assert never_set(texts, package) == sorted(OPTION_EXCEPTIONS)
