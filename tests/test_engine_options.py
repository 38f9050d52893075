"""Every option of the engine layers changes what runs: no function in
``functions/``, ``operators/``, ``plans/`` or ``streaming/`` accepts a
parameter its body never reads, and the options that only selected
test-only modes stay deleted.

``core/``, ``dataframe.py`` and ``database.py`` are out of scope: their
signatures mirror the reference library's."""

import ast
import inspect
from pathlib import Path

import pytest

from curies_spark.operators import dedup, multimodal
from curies_spark.plans import pipeline
from curies_spark.streaming import dedup as stream_dedup

PACKAGE = Path(dedup.__file__).resolve().parent.parent
LAYERS = ("functions", "operators", "plans", "streaming")


def _is_stub(fn: "ast.FunctionDef | ast.AsyncFunctionDef") -> bool:
    """A body that is only ``...`` or only raises ``NotImplementedError``
    (a docstring aside): a signature kept for its callers, with no
    behaviour to read the parameters."""
    body = [
        s
        for s in fn.body
        if not (isinstance(s, ast.Expr) and isinstance(s.value, ast.Constant)
                and isinstance(s.value.value, str))
    ]
    if all(isinstance(s, ast.Expr) and isinstance(s.value, ast.Constant)
           and s.value.value is Ellipsis for s in body):
        return True
    return (
        len(body) == 1
        and isinstance(body[0], ast.Raise)
        and "NotImplementedError" in ast.unparse(body[0])
    )


def unread_parameters(package: Path) -> "list[str]":
    """``<module>:<function>.<parameter>`` for every parameter of every
    function and lambda of the engine layers that its body never loads.
    ``self``, ``cls`` and ``_``-prefixed names are exempt, as are stubs."""
    found = []
    for layer in LAYERS:
        for path in sorted((package / layer).rglob("*.py")):
            for fn in ast.walk(ast.parse(path.read_text())):
                if isinstance(fn, ast.Lambda):
                    body = [fn.body]
                elif isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    if _is_stub(fn):
                        continue
                    body = fn.body
                else:
                    continue
                read = {
                    node.id
                    for stmt in body
                    for node in ast.walk(stmt)
                    if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load)
                }
                a = fn.args
                params = [*a.posonlyargs, *a.args, *a.kwonlyargs]
                params += [p for p in (a.vararg, a.kwarg) if p is not None]
                found += [
                    f"{path.relative_to(package).as_posix()}:"
                    f"{getattr(fn, 'name', '<lambda>')}.{p.arg}"
                    for p in params
                    if p.arg not in ("self", "cls")
                    and not p.arg.startswith("_")
                    and p.arg not in read
                ]
    return found


def test_every_engine_parameter_is_read():
    assert unread_parameters(PACKAGE) == []


def test_guard_flags_an_ignored_parameter(tmp_path):
    """The guard flags an unread keyword, counts a read in a nested
    closure, and exempts stubs."""
    layer = tmp_path / "operators"
    layer.mkdir()
    (layer / "m.py").write_text(
        "def f(df, *, keep='min', used=1):\n"
        "    g = lambda x: x + used\n"
        "    return df, g\n"
        "def stub(payload):\n"
        "    raise NotImplementedError('pass a real decoder')\n"
        "def proto(x):\n"
        "    '''doc'''\n"
        "    ...\n"
    )
    assert unread_parameters(tmp_path) == ["operators/m.py:f.keep"]


@pytest.mark.parametrize(
    "fn, gone",
    [
        (dedup.connected_components, "algorithm"),
        (stream_dedup.start_dedup_stream, "maintain_components"),
        (dedup.exact_dedup, "keep"),
        (multimodal.extract_features, "batch_hint"),
        (pipeline.sha256_rollup, "df"),
    ],
)
def test_deleted_options_stay_deleted(fn, gone):
    assert gone not in inspect.signature(fn).parameters


def test_survivors_choose_labels_or_the_exact_closure():
    param = inspect.signature(stream_dedup.streamed_survivors).parameters["incremental"]
    assert param.default is True
    assert param.annotation in (bool, "bool")
