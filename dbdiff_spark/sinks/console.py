"""Console sink — reproduces the reference's report lines
(``cmd/dbdiff/main.go:201-250``):

    ===<table>===
    INSERTED        : ([col:val][col2:val2])
    DELETED         : (...)
    UPDATED[Before] : (...)
    UPDATED[After ] : (...)

NULL renders as ``<NULL>`` (``extract_data.go:111-115``) — presentation
only; comparisons upstream are null-safe on real NULLs (SURVEY §1.4).

The diff result is presumed small relative to the inputs (changed rows
only), so collecting to the driver mirrors the reference's own
assumption; ``max_rows`` guards the pathological all-rows-changed case,
and a table cut there gets a ``[Warn]`` line after its block.
"""

from __future__ import annotations

import io
from functools import partial

from dbdiff_spark.diff import DELETED, INSERTED, UPDATED, DiffResult, ordered_output
from dbdiff_spark.io import run_jobs
from dbdiff_spark.normalize import NULL_SENTINEL

_LABELS = {
    (INSERTED, False): "INSERTED        : ",
    (DELETED, True): "DELETED         : ",
    (UPDATED, True): "UPDATED[Before] : ",
    (UPDATED, False): "UPDATED[After ] : ",
}


def format_row(columns: list[str], row) -> str:
    """Reference RowObject.String() shape (extract_data.go:135-147)."""
    parts = []
    for c in columns:
        v = row[c]
        parts.append(f"[{c}:{NULL_SENTINEL if v is None else v}]")
    return "(" + "".join(parts) + ")"


def head_rows(result: DiffResult, max_rows: int) -> list:
    """The first ``max_rows + 1`` rows of ``result`` in rendering order,
    in one Spark job.  The extra row tells a table cut at ``max_rows``
    from one with exactly that many changed rows."""
    return ordered_output(result).limit(max_rows + 1).collect()


def collect_rows(
    results: dict[str, DiffResult], max_rows: int
) -> dict[str, list]:
    """``head_rows`` of every table, keyed in table-name order; the
    per-table collects run concurrently (``io.run_jobs``)."""
    names = sorted(results)
    collected = run_jobs(*(partial(head_rows, results[n], max_rows) for n in names))
    return dict(zip(names, collected))


def render_table_diff(
    table_name: str,
    result: DiffResult,
    max_rows: int = 10_000,
    rows: list | None = None,
) -> str:
    """One table's console block.  ``rows`` is ``head_rows(result,
    max_rows)`` when the caller already collected it."""
    if rows is None:
        rows = head_rows(result, max_rows)
    out = io.StringIO()
    out.write(f"==={table_name}===\n")
    for r in rows[:max_rows]:
        label = _LABELS.get((r["diff_status"], r["is_before"]))
        if label is None:  # NOT_MODIFIED in include_unchanged mode
            continue
        out.write(label + format_row(result.value_columns, r) + "\n")
    if len(rows) > max_rows:
        out.write(
            f"[Warn] {table_name}: more than {max_rows} changed rows; "
            f"console and xlsx show the first {max_rows}\n"
        )
    return out.getvalue()


def print_diffs(
    results: dict[str, DiffResult], max_rows: int = 10_000
) -> dict[str, list]:
    """Print every table's block in table-name order and return each
    table's ``head_rows``, for :func:`dbdiff_spark.sinks.xlsx.write_diff_xlsx`
    to render without running the diffs again.  Printing waits for
    every table's collect, so the output order does not depend on
    which finishes first."""
    rows = collect_rows(results, max_rows)
    for name, table_rows in rows.items():
        print(render_table_diff(name, results[name], max_rows, table_rows), end="")
    return rows
