"""Output auto-aliasing.

Port of ``auto_alias`` from ffn-polars (``ffn_polars/utils/decorators.py``,
MIT License; attribution in the repository's NOTICE file): the output
column is named ``{input}_{suffix}`` where ``input`` is the root name of
the first argument. A previously auto-added
known suffix is stripped first (so ``AAPL_returns`` piped into a
``price_index`` op becomes ``AAPL_price_index``, not
``AAPL_returns_price_index``), and an already-present target suffix is not
doubled. Golden tests assert these exact names (reference
tests/expr/test_expr_core.py:20,29,39) so the strip-then-append logic is
replicated precisely.
"""

from __future__ import annotations

from functools import wraps

from pyspark.sql import Column

from ffn_polars_spark.core import col_name


def auto_alias(suffix: str):
    def decorator(func):
        @wraps(func)
        def wrapper(self, *args, **kwargs):
            result = func(self, *args, **kwargs)

            if not isinstance(result, Column):
                return result

            try:
                base_name = col_name(self)
                if base_name is None:
                    return result

                from ffn_polars_spark.registry import extract_all_alias_suffixes

                known_suffixes = extract_all_alias_suffixes()

                # Only remove suffixes if they were auto-added before
                for sfx in known_suffixes:
                    if base_name.endswith(f"_{sfx}"):
                        base_name = base_name[: -len(sfx) - 1]
                        break

                if not base_name:
                    return result

                if base_name.endswith(f"_{suffix}"):
                    alias_name = base_name  # already suffixed
                else:
                    alias_name = f"{base_name}_{suffix}"

                return result.alias(alias_name)
            except Exception:
                return result

        wrapper._alias_suffix = suffix
        return wrapper

    return decorator
