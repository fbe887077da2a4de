"""Benchmark of the dbdiff_spark CLI's REPL round.

Run from the repository root:

    python3 perfbench/run.py --workload repl-string --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-check

One process, one user, closed loop: the benchmark calls
``dbdiff_spark.cli.main`` in-process with ``sys.stdin`` replaced by a shim.
Each ``readline()`` is the REPL's prompt: the shim ends the round that is
running, checks its output, atomically swaps the next pre-written data
generation into the ``--parquet-dir`` (untimed think time) and presses
Enter; after the last round it answers ``q``.  A round is the wall time
from Enter to the next prompt.

Between rounds, in the think time, the benchmark also times a fixed
reference Spark job that no program change touches.  Gated times are wall
seconds scaled by how much slower that job ran than on a quiet host, so
the load other tenants put on a shared host cancels out.

With ``--trace 0`` the last stdout line reports the end-to-end metrics;
with ``--trace 1`` the per-layer metrics of a traced run (spans around the
layer calls ``cli.main`` resolves, jobs from Spark's event log), which
also runs one pass over a fixed list of registry queries.  See
``perfbench/METRICS.md`` for the definitions.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import importlib.util
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

from checks import check_round, console_counts
from gen import SCHEMAS, generate
from spans import busy_seconds, jobs_in, read_event_log, tree_bytes

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))  # the program under test: dbdiff_spark, tools
OUT = ROOT / ".perfbench"

# Each REPL workload: diff mode, scale factor, the schemas it holds, how
# many tables each generation changes, and whether --apply-dir runs.
WORKLOADS = {
    "repl-string": dict(mode="string", sf=0.02, churn=2, apply=False,
                        schemas=["lineitem", "events"]),
    "repl-typed-apply": dict(mode="typed", sf=0.001, churn=1, apply=True,
                             schemas=["customer", "lineitem", "events"]),
}
# The reduced size the self-check smokes every workload at.
TINY = dict(sf=0.001)
REGISTRY_SF = 0.001
MIN_ROUNDS = 3  # timed rounds per run at least, whatever --seconds says
DRIVER_HEAP = "1g"  # fits a shared 15 GiB host; get_spark defaults to 16g
# The reference job: rows it writes and reads back, runs per think time,
# and its wall seconds on a quiet 4-core x86 host, the fastest seen there
# (gated times are scaled to that host).
REF_ROWS = 200_000
REF_REPS = 2
REF_S = 0.5

# Registry queries of the traced run's pass: the dedup, similarity, text
# and graph ops no CLI round reaches, plus TYPED diff on lineitem.
REGISTRY = [
    "diff_lineitem", "diff_lineitem_multiset", "neardup_clusters",
    "dedup_simhash_neardup", "dedup_minhash_lsh", "ngram_jaccard_pairs",
    "triangle_count", "text_quality", "knn_bruteforce",
]
ROUND_LAYERS = ["catalog", "snapshot.collect", "snapshot.diff_snapshots",
                "sinks.console", "sinks.xlsx", "cli.apply"]

E2E_UNITS = {
    "setup_s": "s", "round_s.p50": "s", "rows_per_s": "rows/s",
    "snapshot_bytes_per_source_byte": "B/B", "driver_rss_peak_mb": "MB",
}


def host_record() -> dict:
    mem = Path("/proc/meminfo").read_text().split("\n", 1)[0].split()[1]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(int(mem) / 2**20, 1),
        "loadavg_1m": float(Path("/proc/loadavg").read_text().split()[0]),
        "steal_s": steal_s(),
    }


def process_start_time() -> float:
    """Wall-clock time this process started, from /proc."""
    ticks = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    btime = next(int(line.split()[1]) for line in Path("/proc/stat").read_text().splitlines()
                 if line.startswith("btime "))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, since boot."""
    cpu = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(cpu[8]) / os.sysconf("SC_CLK_TCK")


def cpu_s(pid: int | str) -> float:
    """User plus system CPU seconds of process ``pid``, all its threads."""
    fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return 0.0


def pin_host(work: Path, cpus: int) -> None:
    """Environment the session is built from: every core, local dirs and
    temp files inside the checkout, a fixed driver heap."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    os.environ["TMPDIR"] = str(tmp)
    # A fixed heap size and few malloc arenas keep the JVM's resident
    # set from tracking G1's heap-expansion heuristics and per-thread
    # arenas, which follow host noise rather than the program.
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Xms{DRIVER_HEAP}"  # the driver JVM only
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = str(tmp)


def reference_job(spark, path: Path, cpus: int) -> tuple[float, int]:
    """Fixed Spark work the program does not touch: write a table, read it
    back, aggregate, join and count.  Returns (wall seconds, the count)."""
    t0 = time.perf_counter()
    df = spark.range(0, REF_ROWS, numPartitions=cpus).selectExpr(
        "id", "id % 997 AS k", "sha2(cast(id AS string), 256) AS h")
    df.write.mode("overwrite").parquet(str(path))
    back = spark.read.parquet(str(path))
    n = back.join(back.groupBy("k").count(), "k").where("h < '4'").count()
    return time.perf_counter() - t0, n


class Repl:
    """Drives ``cli.main`` invocations through a scripted stdin and keeps
    every round's timing and check result."""

    def __init__(self, cli, spark, inputs, work: Path, spec: dict, jvm_pid: int,
                 tracer=None, tamper=False):
        self.cli, self.spark, self.inputs, self.work, self.spec = cli, spark, inputs, work, spec
        self.jvm_pid = jvm_pid
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = tracer
        self.tamper = tamper
        self.next_gen = 0
        self.rounds: list[dict] = []
        self.setups: list[float] = []
        self.refs: list[float] = []  # reference job seconds
        self.ref_counts: set[int] = set()
        self.snapshot_ratio: dict[str, float] = {}
        self._open = None  # the round running in cli.main, if any

    def invoke(self, tag: str, script) -> None:
        """One ``cli.main`` run; ``script(n)`` says whether round n (0-based)
        of this invocation runs and whether it is traced (None: quit)."""
        self.tag, self.script, self.n = tag, script, 0
        self.buf = io.StringIO()
        self.xlsx = self.work / f"{tag}.xlsx"
        self.snap_dir = self.work / f"snap-{tag}"
        argv = ["--parquet-dir", str(self.inputs.live), "--snapshot-dir", str(self.snap_dir),
                "-o", str(self.xlsx), "--mode", self.spec["mode"]]
        if self.spec["apply"]:
            argv += ["--apply-dir", str(self.work / f"apply-{tag}")]
        self.t_start = time.time()
        saved_stdin = sys.stdin
        sys.stdin = self
        try:
            with contextlib.redirect_stdout(self.buf):
                rc = self.cli.main(argv)
        finally:
            sys.stdin = saved_stdin
        if rc != 0:
            raise RuntimeError(f"cli.main exited {rc}: {self.buf.getvalue()[-2000:]}")

    def readline(self) -> str:
        now = time.time()
        closed = None
        if self._open is None:
            self.setups.append(now - self.t_start)
            snap0 = next(self.snap_dir.glob("*/snap0"))
            self.snapshot_ratio[self.tag] = (tree_bytes(snap0)[0]
                                             / tree_bytes(self.inputs.live)[0])
        else:
            closed = self._close_round(now)
        # think time: the reference job runs around every timed round (a
        # traced run scales nothing)
        if self.tag == "timed" and self.tracer is None:
            for _ in range(REF_REPS):
                self._think()
        plan = self.script(self.n)
        if plan is None or self.next_gen >= len(self.inputs.generations):
            return "q\n"
        phase, traced = plan
        gen = self.inputs.generations[self.next_gen]
        self.next_gen += 1
        self.inputs.swap_in(gen)
        self.n += 1
        self._open = {"phase": phase, "traced": traced, "gen": gen.index,
                      "offset": self.buf.tell()}
        self._open["cpu"] = self._driver_cpu()
        self._open["steal"] = steal_s()
        self._open["start"] = time.time()
        if self.tracer is not None:
            self.tracer.active = traced
            self.tracer.round_id = len(self.rounds)
            self._open["span"] = self.tracer.begin("round", at=self._open["start"])
        return "\n"

    def _think(self) -> None:
        seconds, count = reference_job(self.spark, self.work / "ref", self.cpus)
        self.refs.append(seconds)
        self.ref_counts.add(count)

    def _driver_cpu(self) -> float:
        return cpu_s(self.jvm_pid) + cpu_s("self")

    def _close_round(self, now: float) -> dict:
        r, self._open = self._open, None
        r["seconds"] = now - r["start"]
        r["cpu_s"] = self._driver_cpu() - r.pop("cpu")
        r["steal_s"] = steal_s() - r.pop("steal")
        if self.tracer is not None and r["traced"]:
            self.tracer.end(self.tracer.open_span("cli.apply"), at=now)
            self.tracer.end(r["span"], at=now)
            self.tracer.active = False
        output = self.buf.getvalue()[r.pop("offset"):]
        expected = self.inputs.generations[r["gen"] - 1].expected
        if self.tamper:  # self-check: a wrong expectation must fail the round
            first = min(expected)
            wrong = dataclasses.replace(expected[first], inserted=expected[first].inserted + 1)
            expected = {**expected, first: wrong}
        r["errors"] = check_round(output, self.xlsx, expected, self.spec["apply"])
        if r["traced"]:
            r["console"] = console_counts(output)
            r["apply_lines"] = output.count("[Apply] ")
            gens = self.inputs.generations
            before = gens[r["gen"] - 2].rows if r["gen"] > 1 else self.inputs.source_rows
            r["snapshot_rows"] = before + gens[r["gen"] - 1].rows
        self.rounds.append(r)
        return r


def run_registry(spark, sf_dir: Path, tracer) -> tuple[list[str], dict[str, dict]]:
    """Check each registry query against its DuckDB twin (untimed, and it
    warms the query), then time one traced pass through the no-op sink."""
    import duckdb
    import __spark_entry__ as entry
    from tools.check_oracle import TABLES, _check_one

    def make_con():
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW \"{t}\" AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return con

    qs, oracles = entry.queries(), entry.oracle_sql()
    errors = []
    for name in REGISTRY:
        ok, report = _check_one(name, qs, oracles, str(sf_dir), spark, make_con)
        if not ok:
            errors.append(report)
    spans = {}
    tracer.active = True
    for name in REGISTRY:
        span = tracer.begin(f"ops.{name}")
        try:
            qs[name](spark, str(sf_dir)).write.format("noop").mode("overwrite").save()
        finally:
            tracer.end(span)
        spans[name] = span
    tracer.active = False
    return errors, spans


def trace_metrics(repl: Repl, tracer, jobs: dict[int, dict], ops: dict[str, dict]) -> dict:
    """Per-layer metrics: means over the traced rounds, one registry pass."""

    def busy(ids):
        return busy_seconds([(jobs[j]["start"], jobs[j]["end"]) for j in ids
                             if jobs[j]["end"] is not None])

    traced = [r for r in repl.rounds if r["traced"]]
    untraced = [r for r in repl.rounds if r["phase"] == "timed" and not r["traced"]]
    per_round: list[dict] = []
    for r in traced:
        rid = r["span"]["round"]
        spans = [s for s in tracer.spans if s["round"] == rid]
        kids = [s for s in spans if s["parent"] == r["span"]["id"]]
        by = {name: [s for s in kids if s["name"] == name] for name in ROUND_LAYERS}
        m = {}
        for name, ss in by.items():
            ids = jobs_in(ss, jobs)
            m[f"{name}_s"] = sum(s["end"] - s["start"] for s in ss)
            m[f"{name}_jobs"] = len(ids)
            m[f"{name}_job_s"] = busy(ids)
            m[f"{name}_input_records"] = sum(jobs[j]["input_records"] for j in ids)
        coll = by["snapshot.collect"]
        m["bytes_written"] = sum(s.get("bytes_written", 0) for s in coll)
        m["files_written"] = sum(s.get("files_written", 0) for s in coll)
        m["xlsx_bytes"] = sum(s.get("xlsx_bytes", 0) for s in by["sinks.xlsx"])
        all_ids = jobs_in(spans, jobs)
        dur = r["seconds"]
        covered = sum(s["end"] - s["start"] for s in kids)
        m["wall_s"], m["cpu_s"] = dur, r["cpu_s"]
        m["round_jobs"] = len(all_ids)
        m["round_job_s"] = busy(all_ids)
        m["driver_gap_s"] = dur - m["round_job_s"]
        m["unattributed_s"] = dur - covered
        m["coverage"] = covered / dur
        read = sum(m[f"{n}_input_records"] for n in
                   ("snapshot.diff_snapshots", "sinks.console", "sinks.xlsx", "cli.apply"))
        m["read_amp"] = read / r["snapshot_rows"]
        console = r["console"]
        m["console_rows"] = sum(sum(c.values()) for c in console.values())
        changed = sum(1 for c in console.values() if sum(c.values()))
        m["useful"] = changed / max(1, len(console))
        m["apply_useful"] = changed / r["apply_lines"] if r["apply_lines"] else 0.0
        per_round.append(m)

    def mean(key):
        return statistics.fmean(m[key] for m in per_round)

    out = {
        "catalog.s": mean("catalog_s"), "catalog.jobs": mean("catalog_jobs"),
        "snapshot.collect_s": mean("snapshot.collect_s"),
        "snapshot.collect_jobs": mean("snapshot.collect_jobs"),
        "snapshot.bytes_written": mean("bytes_written"),
        "snapshot.files_written": mean("files_written"),
        "snapshot.diff_snapshots_s": mean("snapshot.diff_snapshots_s"),
        "snapshot.diff_snapshots_jobs": mean("snapshot.diff_snapshots_jobs"),
        "sinks.console_s": mean("sinks.console_s"),
        "sinks.console_jobs": mean("sinks.console_jobs"),
        "sinks.console_job_s": mean("sinks.console_job_s"),
        "sinks.console_rows": mean("console_rows"),
        "sinks.xlsx_s": mean("sinks.xlsx_s"), "sinks.xlsx_jobs": mean("sinks.xlsx_jobs"),
        "sinks.xlsx_job_s": mean("sinks.xlsx_job_s"), "sinks.xlsx_bytes": mean("xlsx_bytes"),
        "cli.apply_s": mean("cli.apply_s"), "cli.apply_jobs": mean("cli.apply_jobs"),
        "round.wall_s": mean("wall_s"), "round.cpu_s": mean("cpu_s"),
        "round.jobs": mean("round_jobs"), "round.job_s": mean("round_job_s"),
        "round.driver_gap_s": mean("driver_gap_s"),
        "round.unattributed_s": mean("unattributed_s"),
        "round.span_coverage": min(m["coverage"] for m in per_round),
        "round.read_amplification": mean("read_amp"),
        "diff.useful_ratio": mean("useful"),
        "cli.apply_useful_ratio": mean("apply_useful"),
    }
    for name, span in ops.items():
        ids = jobs_in([span], jobs)
        dur = span["end"] - span["start"]
        out[f"ops.{name}_s"] = dur
        out[f"ops.{name}_jobs"] = len(ids)
        out[f"ops.{name}_driver_gap_s"] = dur - busy(ids)
    out["trace.overhead_s"] = (statistics.median(r["seconds"] for r in traced)
                               - statistics.median(r["seconds"] for r in untraced))
    return out


def unit_of(name: str) -> str:
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    if name.endswith("_s") or name == "catalog.s":
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "B"
    if name.endswith("ratio") or name.endswith("amplification") or name.endswith("coverage"):
        return "ratio"
    return "count"


def bench(args) -> int:
    t_proc = process_start_time()
    host_start = host_record()
    print(f"perfbench host at start: {json.dumps(host_start)}", flush=True)
    spec = dict(WORKLOADS[args.workload])
    if args.tiny:
        spec.update(TINY)
    if importlib.util.find_spec("dbdiff_spark") is None:
        print(f"perfbench: the program (dbdiff_spark) is not in {ROOT}", file=sys.stderr)
        return 2
    OUT.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=OUT))
    pin_host(work, host_start["nproc"])
    from dbdiff_spark import cli
    from dbdiff_spark.session import get_spark

    trace = bool(args.trace)
    extra = None
    if trace:
        log_dir = work / "eventlog"
        log_dir.mkdir()
        extra = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": str(log_dir),
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
    try:
        spark = get_spark(app_name="dbdiff_spark_cli", extra_conf=extra)
        t_session = time.time()
        n_gen = 1 + args.seconds // 2 + 8
        t0 = time.time()
        inputs = generate(work / "inputs", args.seed, spec["sf"], spec["schemas"],
                          n_gen, spec["churn"])
        gen_s = time.time() - t0

        tracer = restore = None
        if trace:
            from spans import Tracer, install_cli_wrappers

            tracer = Tracer()
            restore = install_cli_wrappers(tracer, cli)
        jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        repl = Repl(cli, spark, inputs, work, spec, jvm, tracer, tamper=args.tamper_expected)
        try:
            repl.invoke("warmup", lambda n: ("warmup", False) if n == 0 else None)
            deadline: list[float] = []

            def timed(n):
                # rounds until --seconds have passed and MIN_ROUNDS have run;
                # a traced run times untraced, traced, untraced, so that the
                # warm-up still fading from round to round weighs on both
                # kinds alike
                if n == 0:
                    deadline.append(time.time() + args.seconds)
                elif time.time() >= deadline[0] and n >= MIN_ROUNDS:
                    return None
                return ("timed", trace and n == 1)

            repl.invoke("timed", timed)
        finally:
            if restore is not None:
                restore()
        warmup = repl.rounds[0]["seconds"]
        timed = [r for r in repl.rounds if r["phase"] == "timed"]
        timed_rounds = [r["seconds"] for r in timed]
        errors = [f"round gen{r['gen']}: {e}" for r in repl.rounds for e in r["errors"]]
        attempted, failed = len(repl.rounds), sum(1 for r in repl.rounds if r["errors"])
        if len(repl.ref_counts) > 1:
            errors.append(f"reference job counts differ: {sorted(repl.ref_counts)}")

        if trace:
            reg_inputs = generate(work / "registry", args.seed, REGISTRY_SF, SCHEMAS, 0, 0)
            reg_errors, ops = run_registry(spark, reg_inputs.live, tracer)
            errors += reg_errors
            attempted += len(REGISTRY)
            failed += len(reg_errors)
        rss_parts = (vm_hwm_mb(jvm), vm_hwm_mb("self"))
        rss = sum(rss_parts)
        app_id = spark.sparkContext.applicationId
    finally:
        stop_spark()

    setup_wall = (t_session - t_proc) + gen_s + statistics.median(repl.setups) + warmup
    p50 = statistics.median(timed_rounds)
    if trace:
        jobs = read_event_log(work / "eventlog", app_id)
        metrics = trace_metrics(repl, tracer, jobs, ops)
        tracer.dump(OUT / f"trace-{args.workload}-seed{args.seed}.json")
    else:
        # scale by REF_S over the fastest of the reference job's runs around
        # the timed rounds: host noise only ever adds time, the job's first
        # runs are still warming up, and a run right after a round can pay
        # for the round's leftover work
        ref = min(repl.refs)
        round_p50 = p50 * REF_S / ref
        metrics = {
            "setup_s": setup_wall * REF_S / ref,
            "round_s.p50": round_p50,
            "rows_per_s": inputs.source_rows / round_p50,
            "snapshot_bytes_per_source_byte": repl.snapshot_ratio["timed"],
            "driver_rss_peak_mb": rss,
        }
    for e in errors:
        print(f"perfbench check failed: {e}", file=sys.stderr)
    host_end = host_record()
    print(f"perfbench host at end: {json.dumps(host_end)}")
    print(f"perfbench {args.workload} seed={args.seed}: {inputs.source_rows} source rows, "
          f"{len(inputs.tables)} tables, {spec['mode']} mode; {len(timed_rounds)} timed "
          f"rounds {[round(s, 3) for s in timed_rounds]}; setups "
          f"{[round(s, 3) for s in repl.setups]}; warm-up {warmup:.3f} s; "
          f"VmHWM JVM {rss_parts[0]:.1f} MB, Python {rss_parts[1]:.1f} MB; round CPU s "
          f"{[round(r['cpu_s'], 2) for r in timed]}; round steal s "
          f"{[round(r['steal_s'], 2) for r in timed]}; reference job s "
          f"{[round(x, 3) for x in repl.refs]}")
    print(f"  error_rate {failed / attempted:.4f} ({failed}/{attempted})")
    print(f"  round_wall_s.p50 {p50:.6g} s (unscaled, {len(timed_rounds)} rounds)")
    print(f"  setup_wall_s {setup_wall:.6g} s (unscaled)")
    if trace:
        wall = metrics["round.wall_s"]
        shares = {n: metrics["catalog.s" if n == "catalog" else f"{n}_s"] / wall
                  for n in ROUND_LAYERS}
        print("  layer shares of the traced rounds' wall time: "
              + ", ".join(f"{n} {v:.3f}" for n, v in shares.items()))
    else:
        print(f"  reference_s.min {ref:.6g} s (quiet host {REF_S} s)")
    for name, value in metrics.items():
        print(f"  {name} {value:.6g} {unit_of(name)}")
    shutil.rmtree(work, ignore_errors=True)
    correct = not errors
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": v, "unit": unit_of(n)} for n, v in metrics.items()},
    }))
    return 0 if correct else 1


def stop_spark() -> None:
    """Stop the session and wait for the JVM the gateway started to exit."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    if sc is not None:
        sc.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def self_check() -> int:
    """One-round smoke of every workload at tiny size (the last one
    traced, which also checks the registry queries against DuckDB), then a
    run whose expectations are deliberately wrong, which must fail."""
    cases = [(w, 0, False, True) for w in WORKLOADS]
    cases[-1] = (cases[-1][0], 1, False, True)
    cases.append((next(iter(WORKLOADS)), 0, True, False))
    ok = True
    for workload, trace, tamper, want_correct in cases:
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
               "--seconds", "1", "--trace", str(trace), "--tiny"]
        if tamper:
            cmd.append("--tamper-expected")
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        passed = (result is not None and result["correct"] == want_correct
                  and (result["failed"] == 0) == want_correct
                  and (proc.returncode == 0) == want_correct)
        ok &= passed
        print(f"self-check {workload} trace={trace} tamper={tamper}: "
              f"{'ok' if passed else 'FAILED'} (exit {proc.returncode}, {result})")
        if not passed:
            print(proc.stderr[-4000:], file=sys.stderr)
    return 0 if ok else 1


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-check", action="store_true",
                   help="smoke every workload at tiny size plus a negative case")
    p.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--tamper-expected", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args()
    if args.self_check:
        return self_check()
    if args.workload is None:
        p.error("--workload is required")
    return bench(args)


if __name__ == "__main__":
    raise SystemExit(main())
