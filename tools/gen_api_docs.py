"""Generate docs/api/operators.md from the live operator registry.

The registry is the single source of truth for the API surface (SURVEY.md
§2.0), so the API reference is generated, not hand-maintained:
``python tools/gen_api_docs.py`` rewrites the page; CI-style freshness is
pinned by tests/test_docs.py.
"""

from __future__ import annotations

import inspect
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ffn_polars_spark import registry  # noqa: E402

OUT = os.path.join(ROOT, "docs", "api", "operators.md")


def first_paragraph(doc: str) -> str:
    if not doc:
        return ""
    para = doc.strip().split("\n\n")[0]
    return " ".join(line.strip() for line in para.splitlines())


def render() -> str:
    registry.import_all_expr_modules()
    # group unique functions per namespace; collect alias names
    by_ns: dict = {"eod": {}, "tick": {}, "df": {}}
    names_by_fn: dict = {}
    for name, fn in registry.FFN_REGISTRY.items():
        names_by_fn.setdefault(id(fn), []).append(name)
    seen = set()
    for ns, reg in (("eod", registry.FFN_EOD_REGISTRY),
                    ("tick", registry.FFN_TICK_REGISTRY),
                    ("df", registry.FFN_DF_REGISTRY)):
        for name, fn in reg.items():
            if id(fn) in seen:
                continue
            seen.add(id(fn))
            by_ns[ns][fn.__name__] = fn

    lines = [
        "# Operator reference",
        "",
        "_Generated from the registry by `tools/gen_api_docs.py` — do not edit._",
        "",
        "Contexts: **elementwise** (row-local), **series** (order-dependent, needs",
        "`Over(order_by=...)`), **scalar** (aggregate), **dataframe** (DataFrame in,",
        "DataFrame out).",
        "",
    ]
    titles = {"eod": "EOD / portfolio (`ffn.eod`)",
              "tick": "Tick / microstructure (`ffn.tick`)",
              "df": "DataFrame-level operators"}
    for ns in ("eod", "tick", "df"):
        lines += [f"## {titles[ns]}", ""]
        for fname in sorted(by_ns[ns]):
            fn = by_ns[ns][fname]
            target = inspect.unwrap(fn)
            try:
                src = os.path.relpath(inspect.getsourcefile(target), ROOT)
                line = inspect.getsourcelines(target)[1]
                loc = f"`{src}:{line}`"
            except (TypeError, OSError):
                loc = ""
            ctx = getattr(fn, "_ffn_context", "")
            suffix = getattr(fn, "_alias_suffix", None)
            aliases = sorted(set(names_by_fn.get(id(fn), [])) - {fname})
            sig = str(inspect.signature(target))
            lines.append(f"### `{fname}{sig}`")
            meta = [f"context: {ctx}"] if ctx else []
            if suffix:
                meta.append(f"output column: `{{input}}_{suffix}`")
            if aliases:
                meta.append("aliases: " + ", ".join(f"`{a}`" for a in aliases))
            if loc:
                meta.append(loc)
            if meta:
                lines.append("_" + " · ".join(meta) + "_")
            lines.append("")
            p = first_paragraph(inspect.getdoc(target))
            if p:
                lines.append(p)
                lines.append("")
    return "\n".join(lines) + "\n"


def main() -> None:
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        f.write(render())
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
