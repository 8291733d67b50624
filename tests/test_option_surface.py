"""Every option of the analytics surface is one some caller sets.

A keyword parameter of a public function in ``operators/`` or
``queries/`` whose every call — in the package, ``perfbench/`` or
``tests/`` — passes its default (or nothing) is a constant with a
parameter's cost: a signature to read, a value to thread, sometimes a
branch or a range check that only it can reach. Such a knob becomes a
module constant or an inline literal instead.

The census is static (``ast`` only, no Spark). Values are compared
with the default as source text, so ``DAY_US`` passed for a default of
``DAY_US`` does not count as setting it. A parameter of a function
with a ``sql_*`` DuckDB twin (or of the twin) counts as set when the
same-named parameter of either one is set, since the pair must keep
one contract.

Parameters that name the input schema (column and table names, keys,
timestamps) are in scope only for the families bound to their schema,
listed in :data:`SCHEMA_BOUND`; a family joins the tuple once its
unset names have become literals. Elsewhere they are still skipped.
"""

from __future__ import annotations

import ast
import re
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "kinesis_stream_spark"
SURFACE = (PACKAGE / "operators", PACKAGE / "queries")
CALLERS = (PACKAGE, ROOT / "perfbench", ROOT / "tests")
SCHEMA_NAME = re.compile(r"_col|_cols|table|key|_key|_ts")
#: operator families whose schema-name parameters the census covers
SCHEMA_BOUND = (
    "operators/cms.py",
    "operators/components.py",
    "operators/dedup.py",
    "operators/minhash_profile.py",
    "operators/setjoin.py",
    "operators/temporal.py",
    "operators/text.py",
)


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _options() -> dict[tuple[str, str], dict[str, tuple[str, int | None]]]:
    """``(module, function) -> {param: (default source, position)}`` for
    the public functions of the surface; position is None for a
    keyword-only parameter."""
    out = {}
    for folder in SURFACE:
        for path in sorted(folder.glob("*.py")):
            for node in _parse(path).body:
                if not isinstance(node, ast.FunctionDef) or node.name.startswith("_"):
                    continue
                args = node.args
                positional = args.posonlyargs + args.args
                first = len(positional) - len(args.defaults)
                params = {
                    a.arg: (ast.unparse(d), first + i)
                    for i, (a, d) in enumerate(zip(positional[first:], args.defaults))
                }
                params.update(
                    (a.arg, (ast.unparse(d), None))
                    for a, d in zip(args.kwonlyargs, args.kw_defaults)
                    if d is not None
                )
                out[(path.relative_to(PACKAGE).as_posix(), node.name)] = params
    return out


def _callee(call: ast.Call, aliases: dict[str, str]) -> str | None:
    if isinstance(call.func, ast.Name):
        return aliases.get(call.func.id, call.func.id)
    if isinstance(call.func, ast.Attribute):
        return call.func.attr
    return None


def _set_params(options) -> set[tuple[str, str, str]]:
    """Every ``(module, function, param)`` some call passes a value other
    than the default's source text (or may, through ``*``/``**``)."""
    by_name = defaultdict(list)
    for key in options:
        by_name[key[1]].append(key)
    seen = set()
    for folder in CALLERS:
        for path in folder.rglob("*.py"):
            tree = _parse(path)
            aliases = {
                a.asname: a.name
                for node in ast.walk(tree)
                if isinstance(node, ast.ImportFrom)
                for a in node.names
                if a.asname
            }
            for call in ast.walk(tree):
                if not isinstance(call, ast.Call):
                    continue
                for key in by_name.get(_callee(call, aliases), ()):
                    star = any(isinstance(a, ast.Starred) for a in call.args)
                    kwargs = {k.arg: ast.unparse(k.value) for k in call.keywords if k.arg}
                    dstar = len(kwargs) < len(call.keywords)
                    for param, (default, pos) in options[key].items():
                        if param in kwargs:
                            value = kwargs[param]
                        elif pos is not None and (star or pos < len(call.args)):
                            value = None if star else ast.unparse(call.args[pos])
                        elif dstar:
                            value = None
                        else:
                            continue
                        if value != default:
                            seen.add((*key, param))
    return seen


def _twins(options, name: str) -> list[tuple[str, str]]:
    other = name[4:] if name.startswith("sql_") else "sql_" + name
    return [key for key in options if key[1] == other]


def unset_options() -> list[str]:
    options = _options()
    seen = _set_params(options)
    dead = []
    for (module, name), params in sorted(options.items()):
        for param in params:
            if SCHEMA_NAME.search(param) and module not in SCHEMA_BOUND:
                continue
            pair = [(module, name)] + [
                t for t in _twins(options, name) if param in options[t]
            ]
            if not any((*key, param) in seen for key in pair):
                dead.append(f"{module}:{name}({param}={params[param][0]})")
    return dead


def test_every_option_is_set_by_some_caller():
    dead = unset_options()
    assert not dead, (
        f"{len(dead)} option(s) no caller sets to anything but the default; "
        "make each a constant: " + ", ".join(dead)
    )


def test_census_sees_a_knob_only_its_default_reaches(tmp_path, monkeypatch):
    """The census itself: a defaulted option that one call passes at its
    default and another omits is reported; one a call sets is not."""
    surface = tmp_path / "kinesis_stream_spark" / "operators"
    surface.mkdir(parents=True)
    (surface / "m.py").write_text(
        "def op(df, *, unit_us=DAY_US, k=3, value_col='v'):\n    pass\n"
        "def sql_op(*, k=3):\n    pass\n"
        "def run(df):\n"
        "    op(df, unit_us=DAY_US)\n    op(df)\n    sql_op(k=4)\n"
    )
    monkeypatch.setitem(globals(), "SURFACE", (surface,))
    monkeypatch.setitem(globals(), "PACKAGE", surface.parent)
    monkeypatch.setitem(globals(), "CALLERS", (surface,))
    assert unset_options() == ["operators/m.py:op(unit_us=DAY_US)"]
    monkeypatch.setitem(globals(), "SCHEMA_BOUND", ("operators/m.py",))
    assert unset_options() == [
        "operators/m.py:op(unit_us=DAY_US)",
        "operators/m.py:op(value_col='v')",
    ]
