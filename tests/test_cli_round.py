"""One CLI REPL round (collect → diff → console → xlsx → apply): each
table's diff runs once, the per-table work overlaps without changing
what is printed or written, and a failing table surfaces only after the
others finish."""

import io
import threading
import time
import zipfile
from datetime import datetime
from decimal import Decimal
from pathlib import Path

import pytest

from dbdiff_spark import cli
from dbdiff_spark.sinks import console

GOLDEN = Path(__file__).parent / "golden"


def _write(spark, path, rows, schema):
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(str(path))


def _fixed_before(spark, src):
    _write(spark, src / "items.parquet", [
        (1, "apple", 1.5, None),
        (2, "pear", 2.25, "ripe"),
        (3, "fig", 0.5, None),
        (4, "kiwi", 3.0, "x"),
        (5, "lime", 1.0, "sour"),
    ], "id int, name string, price double, note string")
    _write(spark, src / "pairs.parquet", [
        (1, "a", Decimal("1.50"), datetime(2020, 1, 2, 3, 4, 5)),
        (1, "b", Decimal("2.00"), datetime(2020, 1, 2, 3, 4, 5, 600)),
        (2, "a", Decimal("3.25"), None),
    ], "a int, b string, v decimal(10,2), ts timestamp")
    _write(spark, src / "gone.parquet", [(1, "bye")], "k int, s string")


def _fixed_after(spark, src):
    _write(spark, src / "items.parquet", [
        (1, "apple", 1.5, None),
        (2, "Pear", 0.1 + 0.2, "ripe"),
        (3, "fig", 0.5, "x<&>\"y"),
        (5, "lime", 1.0, "sour"),
        (7, "plum", None, None),
    ], "id int, name string, price double, note string")
    _write(spark, src / "pairs.parquet", [
        (1, "a", Decimal("1.50"), datetime(2020, 1, 2, 3, 4, 5)),
        (1, "b", Decimal("2.10"), datetime(2020, 1, 2, 3, 4, 5, 600)),
        (2, "a", Decimal("3.25"), datetime(2021, 6, 7)),
        (3, "c", None, None),
    ], "a int, b string, v decimal(10,2), ts timestamp")
    for p in (src / "gone.parquet").iterdir():
        p.unlink()
    (src / "gone.parquet").rmdir()
    _write(spark, src / "fresh.parquet", [(9, "new")], "k int, s string")


def run_fixed_round(spark, tmp_path, monkeypatch, capsys, mode):
    """One round over a fixed input: updates, deletes, inserts, NULLs,
    XML-special text, a composite key, a dropped and an added table.
    Returns (console text with ``tmp_path`` replaced by ``<tmp>``,
    sheet1.xml bytes)."""
    src = tmp_path / "db"
    src.mkdir()
    _fixed_before(spark, src)
    stdin = io.StringIO("\nq\n")

    def readline():
        if stdin.tell() == 0:
            _fixed_after(spark, src)
        return stdin.readline()

    monkeypatch.setattr("sys.stdin", io.StringIO())
    monkeypatch.setattr("sys.stdin.readline", readline)
    out = tmp_path / "out.xlsx"
    rc = cli.main([
        "--parquet-dir", str(src), "--snapshot-dir", str(tmp_path / "snaps"),
        "--mode", mode, "--key", "items=id", "--key", "pairs=a,b",
        "-o", str(out),
    ])
    assert rc == 0
    text = capsys.readouterr().out.replace(str(tmp_path), "<tmp>")
    with zipfile.ZipFile(out) as z:
        sheet = z.read("xl/worksheets/sheet1.xml")
    return text, sheet


@pytest.mark.parametrize("mode", ["string", "typed"])
def test_round_output_is_byte_identical_to_golden(spark, tmp_path, monkeypatch, capsys, mode):
    """The golden files were written by the sinks before they shared one
    collect; sharing it must not change a byte of what they render."""
    text, sheet = run_fixed_round(spark, tmp_path, monkeypatch, capsys, mode)
    assert text == (GOLDEN / f"cli_round_{mode}.txt").read_text()
    assert sheet == (GOLDEN / f"cli_round_{mode}_sheet1.xml").read_bytes()


def _three_tables(spark, src, gen):
    """a_first / b_mid / c_last, each with its own value column so a
    DiffResult names its table; every table changes in generation 1."""
    for t in ("a_first", "b_mid", "c_last"):
        _write(spark, src / f"{t}.parquet",
               [(1, f"{t}{gen}"), (2, "same")], f"id int, {t} string")


def _drive(spark, tmp_path, monkeypatch, extra=()):
    src = tmp_path / "db"
    src.mkdir(exist_ok=True)
    _three_tables(spark, src, 0)
    stdin = io.StringIO("\nq\n")

    def readline():
        if stdin.tell() == 0:
            _three_tables(spark, src, 1)
        return stdin.readline()

    monkeypatch.setattr("sys.stdin", io.StringIO())
    monkeypatch.setattr("sys.stdin.readline", readline)
    keys = [a for t in ("a_first", "b_mid", "c_last") for a in ("--key", f"{t}=id")]
    return cli.main([
        "--parquet-dir", str(src), "--snapshot-dir", str(tmp_path / "snaps"),
        "--mode", "typed", *keys, "-o", str(tmp_path / "out.xlsx"), *extra,
    ])


def test_round_diffs_each_table_once(spark, tmp_path, monkeypatch, capsys, job_counter):
    """diff_snapshots plans from manifest schemas and the xlsx renders
    the console's rows: neither starts a Spark job, and each table's
    ordered diff is built once."""
    jobs = {}

    def counted(name, fn):
        def run(*args, **kwargs):
            with job_counter() as ids:
                result = fn(*args, **kwargs)
            jobs[name] = ids
            return result
        return run

    monkeypatch.setattr(cli, "diff_snapshots", counted("diff", cli.diff_snapshots))
    monkeypatch.setattr(cli, "write_diff_xlsx", counted("xlsx", cli.write_diff_xlsx))
    calls = []
    real = console.ordered_output

    def ordered(result):
        calls.append(result.value_columns[1])
        return real(result)

    monkeypatch.setattr(console, "ordered_output", ordered)
    assert _drive(spark, tmp_path, monkeypatch) == 0
    assert jobs == {"diff": [], "xlsx": []}
    assert sorted(calls) == ["a_first", "b_mid", "c_last"]
    assert "===a_first===" in capsys.readouterr().out


def test_output_order_does_not_follow_finish_order(spark, tmp_path, monkeypatch, capsys):
    """The first table's collect and apply are made to finish last;
    its console block and [Apply] line still come first."""
    finished = {"collect": [], "apply": []}
    real_head, real_apply = console.head_rows, cli._apply_table

    def slow_head(result, max_rows):
        table = result.value_columns[1]
        if table == "a_first":
            time.sleep(1.5)
        rows = real_head(result, max_rows)
        finished["collect"].append(table)
        return rows

    def slow_apply(spark_, before, after, tname, *args):
        if tname == "a_first":
            time.sleep(1.5)
        line = real_apply(spark_, before, after, tname, *args)
        finished["apply"].append(tname)
        return line

    monkeypatch.setattr(console, "head_rows", slow_head)
    monkeypatch.setattr(cli, "_apply_table", slow_apply)
    assert _drive(spark, tmp_path, monkeypatch,
                  ["--apply-dir", str(tmp_path / "applied")]) == 0
    assert finished["collect"][-1] == "a_first"
    assert finished["apply"][-1] == "a_first"
    text = capsys.readouterr().out
    blocks = [ln for ln in text.splitlines() if ln.startswith("===")]
    assert blocks == ["===a_first===", "===b_mid===", "===c_last==="]
    applied = [ln.split(":")[0] for ln in text.splitlines() if ln.startswith("[Apply]")]
    assert applied == ["[Apply] a_first", "[Apply] b_mid", "[Apply] c_last"]
    assert text.count("[OK]") == 3


def test_failing_apply_raises_after_the_other_tables_finish(spark, tmp_path, monkeypatch, capsys):
    finished = []
    lock = threading.Lock()
    real_apply = cli._apply_table

    def apply(spark_, before, after, tname, *args):
        if tname == "a_first":
            raise RuntimeError("apply failed on a_first")
        time.sleep(0.5)
        line = real_apply(spark_, before, after, tname, *args)
        with lock:
            finished.append(tname)
        return line

    monkeypatch.setattr(cli, "_apply_table", apply)
    with pytest.raises(RuntimeError, match="a_first"):
        _drive(spark, tmp_path, monkeypatch, ["--apply-dir", str(tmp_path / "applied")])
    assert sorted(finished) == ["b_mid", "c_last"]
    assert all((tmp_path / "applied" / "gen1" / t).is_dir() for t in finished)
