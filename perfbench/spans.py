"""Spans around the calls ``dbdiff_spark.cli.main`` makes into each layer.

A span records name, start, end, parent span and round id.  Spans stay in
memory until the run ends.  Spark jobs are given to spans afterwards from
the event log: with one user and spans that run one after another, a
span's jobs are those submitted inside its interval, whichever thread
submitted them.  Job intervals and input records come from the same log.
"""

from __future__ import annotations

import functools
import json
import math
import time
from collections.abc import Callable, Iterable
from pathlib import Path


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.active = False
        self.round_id: int | None = None
        self._stack: list[dict] = []

    def begin(self, name: str, at: float | None = None) -> dict | None:
        """Open a span under the innermost open one, now or ``at``; None
        when inactive."""
        if not self.active:
            return None
        parent = self._stack[-1]["id"] if self._stack else None
        span = {
            "id": len(self.spans) + 1, "name": name, "parent": parent,
            "round": self.round_id, "start": time.time() if at is None else at,
        }
        self.spans.append(span)
        self._stack.append(span)
        return span

    def end(self, span: dict | None, at: float | None = None) -> None:
        if span is None:
            return
        span["end"] = time.time() if at is None else at
        self._stack.remove(span)

    def open_span(self, name: str) -> dict | None:
        """The innermost open span called ``name``, if any."""
        return next((s for s in reversed(self._stack) if s["name"] == name), None)

    def wrap(self, fn, name: str, after=None):
        """``fn`` inside a span; ``after(span, args, result)`` may add
        counts to the span before it closes."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.begin(name)
            try:
                result = fn(*args, **kwargs)
                if span is not None and after is not None:
                    after(span, args, result)
                return result
            finally:
                self.end(span)

        return traced

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans, indent=1))


def tree_bytes(root: Path) -> tuple[int, int]:
    """(bytes, data files) under ``root``, ignoring checksums and markers."""
    total = files = 0
    for p in Path(root).rglob("*"):
        if p.is_file() and not p.name.startswith((".", "_")):
            total += p.stat().st_size
            files += 1
    return total, files


def install_cli_wrappers(tracer: Tracer, cli) -> Callable[[], None]:
    """Wrap the layer entry points ``cli.main`` resolves at call time.
    Returns a function that restores the originals."""
    saved = {n: getattr(cli, n) for n in
             ("_load_sources", "diff_snapshots", "print_diffs", "write_diff_xlsx")}
    store_cls = cli.SnapshotStore
    saved_collect = store_cls.collect

    def collect_counts(span, args, snap):
        span["bytes_written"], span["files_written"] = tree_bytes(Path(snap.root))

    def xlsx_counts(span, args, path):
        span["xlsx_bytes"] = Path(path).stat().st_size

    cli._load_sources = tracer.wrap(saved["_load_sources"], "catalog")
    cli.diff_snapshots = tracer.wrap(saved["diff_snapshots"], "snapshot.diff_snapshots")
    cli.print_diffs = tracer.wrap(saved["print_diffs"], "sinks.console")
    traced_xlsx = tracer.wrap(saved["write_diff_xlsx"], "sinks.xlsx", xlsx_counts)

    @functools.wraps(saved["write_diff_xlsx"])
    def xlsx_then_apply(*args, **kwargs):
        # everything main does between the xlsx sink returning and the
        # next prompt (the --apply-dir path) is the cli.apply span; the
        # stdin shim closes it
        result = traced_xlsx(*args, **kwargs)
        tracer.begin("cli.apply")
        return result

    cli.write_diff_xlsx = xlsx_then_apply
    store_cls.collect = tracer.wrap(saved_collect, "snapshot.collect", collect_counts)

    def restore():
        for n, fn in saved.items():
            setattr(cli, n, fn)
        store_cls.collect = saved_collect

    return restore


def read_event_log(log_dir: Path, app_id: str) -> dict[int, dict]:
    """Job id -> {start, end (s), input_records} from an uncompressed,
    non-rolling Spark event log.  Input records, not bytes: the bytes a
    task reports depend on column pruning and on the file system's
    counters, the rows it scanned do not."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(Path(log_dir) / app_id) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"start": ev["Submission Time"] / 1000, "end": None,
                             "input_records": 0}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                metrics = ev.get("Task Metrics") or {}
                if jid is not None:
                    jobs[jid]["input_records"] += (metrics.get("Input Metrics") or {}).get(
                        "Records Read", 0
                    )
    return jobs


def jobs_in(spans: Iterable[dict], jobs: dict[int, dict]) -> list[int]:
    """Ids of the jobs submitted while any of ``spans`` was open.  The log
    stamps submission in whole milliseconds, so a span opens at the
    millisecond it started in."""
    bounds = [(math.floor(s["start"] * 1000) / 1000, s["end"]) for s in spans]
    return sorted(j for j, job in jobs.items()
                  if any(lo <= job["start"] <= hi for lo, hi in bounds))


def busy_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
