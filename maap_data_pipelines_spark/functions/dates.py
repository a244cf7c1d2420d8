"""Filename date extraction — reference parity.

Mirrors ``/root/reference/lambdas/build-stac/utils/regex.py:30-83``:
four regex strategies tried in order (ISO, yyyymmdd, yyyymm, yyyy); the first
strategy with any match contributes ALL its matches; >1 match → (min, max),
exactly 1 → single date (optionally expanded to a month/year range per
``utils/regex.py:13-27``).

Implemented twice with identical semantics: as Spark Column expressions
(JVM-side, codegen) and as DuckDB SQL strings for the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (pattern, spark format, duckdb format) — order matters (cascade).
STRATEGIES: list[tuple[str, str, str]] = [
    (r"(?:_|-)(\d{4}-\d{2}-\d{2})", "yyyy-MM-dd", "%Y-%m-%d"),
    (r"(?:_|-)(\d{8})", "yyyyMMdd", "%Y%m%d"),
    (r"(?:_|-)(\d{6})", "yyyyMM", "%Y%m"),
    (r"(?:_|-)(\d{4})", "yyyy", "%Y"),
]


def _to_date_fn(fmt: str):
    # NB: must be a 1-arg lambda — a 2-arg lambda (e.g. fmt=fmt default)
    # makes F.transform pass the array INDEX as the second argument.
    return lambda s: F.to_date(s, fmt)


def extracted_dates(filename: Column) -> Column:
    """Array<date> of all dates found by the first matching strategy.

    Cost shape (r11): this subtree is interpreted (higher-order functions
    are CodegenFallback, so no codegen CSE applies) — every *reference* to
    a strategy array re-runs its regex over the filename. The original
    CASE fold (``when(size(a)>0, a)`` per strategy) referenced each array
    twice and was itself pasted per consumer column. Packing the four
    candidate arrays into ONE array<array<date>> and taking the first
    non-empty element references each regex exactly once per instance;
    consumers additionally alias the result in its own projection (see
    ``plans/stac.py``) so the whole thing runs once per row, not once per
    output column.
    """
    cands = F.array(
        *[
            F.transform(F.regexp_extract_all(filename, F.lit(pat), 1), _to_date_fn(fmt))
            for pat, fmt, _ in STRATEGIES
        ]
    )
    # try_element_at: NULL (not ANSI error) when no strategy matched
    first = F.try_element_at(F.filter(cands, lambda a: F.size(a) > 0), F.lit(1))
    # no strategy matched (or NULL filename) -> empty array, as before
    return F.coalesce(first, F.array().cast("array<date>"))


def extracted_dates_sql(filename_expr: str) -> str:
    # try_strptime (not strptime): Spark's to_date returns NULL on a
    # matched-but-invalid digit string; strptime would raise and crash the
    # oracle where Spark silently NULLs — parity requires try_.
    out = "CAST([] AS DATE[])"
    for pat, _, dfmt in reversed(STRATEGIES):
        arr = (
            f"list_transform(regexp_extract_all({filename_expr}, '{pat}', 1), "
            f"s -> try_strptime(s, '{dfmt}')::DATE)"
        )
        out = f"CASE WHEN len({arr}) > 0 THEN {arr} ELSE {out} END"
    return out


def start_end_single_sql(dates: str) -> tuple[str, str, str]:
    """:func:`start_end_single` as DuckDB SQL over the list expression ``dates``."""
    return (
        f"CASE WHEN len({dates}) > 1 THEN list_min({dates}) END",
        f"CASE WHEN len({dates}) > 1 THEN list_max({dates}) END",
        f"CASE WHEN len({dates}) = 1 THEN {dates}[1] END",
    )


def start_end_single(dates: Column) -> tuple[Column, Column, Column]:
    """(start, end, single) per the reference's multi/single-date rules."""
    many = F.size(dates) > 1
    start = F.when(many, F.array_min(dates))
    end = F.when(many, F.array_max(dates))
    single = F.when(F.size(dates) == 1, F.element_at(dates, 1))
    return start, end, single


def expand_range(single: Column, interval: str) -> tuple[Column, Column]:
    """Single date -> (start, end) for interval 'month' | 'year'."""
    if interval == "month":
        return F.date_trunc("month", single).cast("date"), F.last_day(single)
    if interval == "year":
        return (
            F.date_trunc("year", single).cast("date"),
            F.make_date(F.year(single), F.lit(12), F.lit(31)),
        )
    raise ValueError(f"unsupported interval {interval!r}")
