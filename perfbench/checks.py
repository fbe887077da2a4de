"""Output checks for one REPL round: what the console printed, what the
xlsx report holds and what ``--apply-dir`` verified must all agree with
the counts the generator recorded for the generation swapped in."""

from __future__ import annotations

import re
import zipfile
from collections import Counter
from pathlib import Path
from xml.etree import ElementTree

from gen import Expected

_CONSOLE_LABELS = {
    "INSERTED        : ": "inserted",
    "DELETED         : ": "deleted",
    "UPDATED[Before] : ": "upd_before",
    "UPDATED[After ] : ": "upd_after",
}
_XLSX_LABELS = {
    "INSERTED": "inserted",
    "DELETED": "deleted",
    "UPD BEFORE": "upd_before",
    "UPD  AFTER": "upd_after",
}
_SHEET_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_APPLY = re.compile(r"^\[Apply\] (\S+): reconstructed -> .* \[(\S+)\]$", re.M)


def console_counts(text: str) -> dict[str, Counter]:
    """Per-table label counts from the console sink's ``===table===`` blocks."""
    out: dict[str, Counter] = {}
    current = None
    for line in text.splitlines():
        m = re.fullmatch(r"===(.+)===", line)
        if m:
            current = out.setdefault(m.group(1), Counter())
            continue
        if current is not None:
            for label, kind in _CONSOLE_LABELS.items():
                if line.startswith(label):
                    current[kind] += 1
                    break
    return out


def xlsx_counts(path: Path) -> dict[str, Counter]:
    """Per-table status-cell counts from the report's only sheet."""
    with zipfile.ZipFile(path) as z:
        root = ElementTree.fromstring(z.read("xl/worksheets/sheet1.xml"))
    out: dict[str, Counter] = {}
    current = None
    for row in root.iter(f"{_SHEET_NS}row"):
        cells = {
            c.get("r").rstrip("0123456789"): "".join(c.itertext())
            for c in row.iter(f"{_SHEET_NS}c")
        }
        if cells.get("B") == "TableName":
            current = out.setdefault(cells.get("C", ""), Counter())
        elif current is not None and cells.get("B") in _XLSX_LABELS:
            current[_XLSX_LABELS[cells["B"]]] += 1
    return out


def _want(e: Expected) -> Counter:
    return Counter(inserted=e.inserted, deleted=e.deleted,
                   upd_before=e.updated, upd_after=e.updated)


def check_round(output: str, xlsx: Path, expected: dict[str, Expected],
                apply: bool) -> list[str]:
    """Every way the round's output disagrees with ``expected``."""
    errors = []
    want = {t: _want(e) for t, e in expected.items()}
    console = console_counts(output)
    if set(console) != set(want):
        errors.append(f"console tables {sorted(console)} != {sorted(want)}")
    for t in sorted(set(console) & set(want)):
        if +console[t] != +want[t]:
            errors.append(f"console {t}: {dict(console[t])} != {dict(+want[t])}")
    try:
        report = xlsx_counts(xlsx)
    except (OSError, KeyError, zipfile.BadZipFile, ElementTree.ParseError) as exc:
        errors.append(f"xlsx {xlsx}: {exc!r}")
    else:
        changed = {t: +w for t, w in want.items() if +w}
        if report != changed:
            errors.append(f"xlsx counts {dict(report)} != {changed}")
    if apply:
        status = dict(_APPLY.findall(output))
        if set(status) != set(want):
            errors.append(f"apply tables {sorted(status)} != {sorted(want)}")
        errors += [f"apply {t}: {s}" for t, s in sorted(status.items()) if s != "OK"]
    return errors
