"""Docs stay truthful: the generated API reference matches the live
registry, and example scripts at least parse and import-resolve."""

import ast
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_api_reference_is_fresh():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import gen_api_docs

    with open(os.path.join(ROOT, "docs", "api", "operators.md")) as f:
        on_disk = f.read()
    assert on_disk == gen_api_docs.render(), (
        "docs/api/operators.md is stale — run `python tools/gen_api_docs.py`"
    )


def test_examples_parse():
    exdir = os.path.join(ROOT, "examples")
    scripts = [f for f in os.listdir(exdir) if f.endswith(".py")]
    assert len(scripts) >= 3
    for s in scripts:
        with open(os.path.join(exdir, s)) as f:
            ast.parse(f.read())


def test_docs_pages_exist():
    for page in (
        "docs/index.md",
        "docs/getting-started.md",
        "docs/usage/expressions.md",
        "docs/usage/dataframe.md",
        "docs/usage/pipelines.md",
        "docs/usage/simulator.md",
        "docs/scaling.md",
        "docs/api/operators.md",
        "mkdocs.yml",
    ):
        assert os.path.exists(os.path.join(ROOT, page)), page


def test_public_function_type_hints_resolve():
    """Every public function's annotations name what its module imports:
    ``typing.get_type_hints`` (documentation tools, IDEs) raises NameError
    on one that does not. Imports the package only; no Spark session."""
    import importlib
    import inspect
    import pkgutil
    import typing

    import ffn_polars_spark

    checked, broken = 0, []
    for info in pkgutil.walk_packages(ffn_polars_spark.__path__, "ffn_polars_spark."):
        if any(part.startswith("_") for part in info.name.split(".")):
            continue
        module = importlib.import_module(info.name)
        for name, fn in vars(module).items():
            if name.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != info.name:
                continue
            checked += 1
            try:
                typing.get_type_hints(fn)
            except Exception as e:
                broken.append(f"{info.name}.{name}: {e!r}")
    assert checked > 100 and not broken, (checked, broken)
