"""Run one benchmark workload against the repository's query builders.

    python3 perfbench/run.py --workload ops_interactive --seed 1 --seconds 12 --trace 0

One process, one closed-loop client issuing the workload's queries back to
back on ``local[<cpus>]``. A run

1. sets up: starts the Spark session, loads every table relation, and
   warms up the way ``bench.py`` does (``setup_s``);
2. runs one cold pass (``cold_pass_s``) and two untimed settling passes;
3. runs as many warm passes as take ``--seconds`` at the baseline (at
   least three), each in a new order drawn from ``--seed``, timing every
   query from build to the end of its ``noop`` write, which forces every
   column (``pass_s``, ``query_p50_s``, ``query_p90_s``);
4. compares every query's ``collect()`` with its DuckDB twin from
   ``oracle_sql()``, or with a recorded row count, untimed.

With ``--trace 1`` the warm passes alternate between untraced and traced,
and the run reports per-layer metrics from the traced ones instead (see
tracer.py); the spans are written to ``perfbench/.out/``.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the metrics are the
``end_to_end`` (``--trace 0``) or ``per_layer`` (``--trace 1``) names of
``BENCHMARK.json``. The exit code is 1 when any query raised or returned
a wrong result.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(HERE, ".out")
SCRATCH_ROOT = os.path.join(HERE, ".scratch")
MIN_WARM_PASSES = 3
SETTLE_PASSES = 2
#: every end-to-end figure printed per run; BENCHMARK.json gates a subset.
#: The pooled query median sits on one query of the five in
#: corpus_pipeline, whose run medians spread by 0.31 between runs; the tail
#: percentile needs more samples than a run takes; peak RSS follows the
#: JVM heap sizing, which varied by 20% between runs.
REPORTED = (
    ("setup_s", "s"),
    ("cold_pass_s", "s"),
    ("pass_s", "s"),
    ("query_p50_s", "s"),
    ("query_p90_s", "s"),
    ("failed_frac", "1"),
    ("peak_rss_mb", "MB"),
)

from metrics import core_use, median, self_times, tail_percentile  # noqa: E402
from workloads import DEFAULT_TABLES, EXPECTED_ROWS, PASS_SECONDS, TABLES_ROOT, WORKLOADS  # noqa: E402


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--tables",
        choices=sorted(EXPECTED_ROWS),
        default=DEFAULT_TABLES,
        help="input table set under perfbench/tables/ (tests use sf0.001)",
    )
    return ap.parse_args(argv)


def pin_environment(scratch: str, cpus: int) -> None:
    """Pin the session to this machine's cores and keep every file Spark
    and the query builders write inside ``scratch``. Must run before
    pyspark or the repository is imported."""
    for sub in ("local", "warehouse", "tmp"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    tmp = os.path.join(scratch, "tmp")
    # the JVM writes native libraries, Spark temp dirs and its perf-data
    # file under java.io.tmpdir and /tmp, not under TMPDIR
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_LOCAL_DIRS": os.path.join(scratch, "local"),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(scratch, "warehouse"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {jvm_opts}".strip(),
            "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                continue  # removed while walking
    return total / (1024.0 * 1024.0)


#: per-pass counts that should repeat exactly between passes and runs
EXACT_COUNTS = ("py4j.calls", "catalyst.plan_nodes", "exec.jobs", "exec.stages")

#: stage-record sums reported under another layer than ``exec``
_STAGE_NAMES = {
    "exec_s": "exec.s",
    "shuffle_read_mb": "shuffle.read_mb",
    "shuffle_write_mb": "shuffle.write_mb",
    "input_mb": "io.input_mb",
    "output_mb": "io.output_mb",
}


def pass_layers(spans: list, cores: int) -> dict:
    """Per-layer sums over the spans of one traced pass."""
    own = self_times(spans)
    row: dict[str, float] = {}

    def add(key: str, value: float) -> None:
        row[key] = row.get(key, 0.0) + value

    for s in spans:
        dur = s["end"] - s["start"]
        if s["layer"] == "entry":
            add("entry.build_s", dur)
        elif s["layer"] == "catalyst":
            add("catalyst.plan_s", dur)
            add("catalyst.plan_nodes", s["plan_nodes"])
        elif s["layer"] == "exec":
            for k, v in s["stages"].items():
                add(_STAGE_NAMES.get(k, f"exec.{k}"), v)
        elif s["layer"] == "session":
            add(f"session.{s['name']}_calls", 1)
            add(f"session.{s['name']}_s", dur)
        elif s["layer"] != "query":
            add(f"{s['layer']}.calls", 1)
            add(f"{s['layer']}.self_s", own[s["id"]])
    row["exec.core_util"], row["exec.idle_core_s"] = core_use(
        row.get("exec.task_run_s", 0.0), row.get("exec.s", 0.0), cores
    )
    inp = row.get("io.input_mb", 0.0)
    row["io.write_amp"] = row.get("io.output_mb", 0.0) / inp if inp > 0 else 0.0
    return row


def layer_values(names: list[str], layer: dict, wrapped: dict[str, list[str]]) -> dict[str, float]:
    """The values of the per-layer metrics ``names`` from one traced run.

    A name that the traced passes did not produce is 0 only if it counts
    calls into a wrapped layer, or a wrapped session function, that no
    query reached. Any other missing name (a renamed module, a layer no
    longer wrapped, a typo) raises ``KeyError`` rather than reading 0."""
    reachable = set()
    for mod, fns in wrapped.items():
        if mod == "session":
            for fn in fns:
                reachable |= {f"session.{fn}_calls", f"session.{fn}_s", f"session.setup_{fn}_s"}
        else:
            reachable |= {f"{mod}.calls", f"{mod}.self_s"}
    unknown = [n for n in names if n not in layer and n not in reachable]
    if unknown:
        raise KeyError(f"per-layer metrics that nothing measures: {', '.join(unknown)}")
    return {n: layer.get(n, 0.0) for n in names}


class Bench:
    def __init__(self, args: argparse.Namespace, scratch: str, cpus: int) -> None:
        import __spark_entry__ as entry
        from dataframes_spark import session

        self.args, self.scratch, self.cpus = args, scratch, cpus
        self.entry, self.session = entry, session
        self.names = WORKLOADS[args.workload]
        self.queries = entry.queries()
        self.rng = random.Random(args.seed)
        self.failures: dict[str, str] = {}
        self.attempted = self.failed = 0
        self.scratch_peak_mb = 0.0
        self.spark = None
        self.tables = os.path.join(TABLES_ROOT, args.tables)
        self.tracer = self.instr = self.py4j = self.stages = None

    # -- setup ---------------------------------------------------------------

    def setup(self) -> float:
        """Build the session, load every relation and warm up; returns the
        time since process start."""
        self.spark = self.session.get_spark(app_name="perfbench")
        for table in self.session.TABLES:
            self.session.load_table(self.spark, self.tables, table)
        self.queries["q1_pricing_summary"](self.spark, self.tables).count()
        self.spark.range(64).mapInPandas(lambda it: it, "id long").count()
        return time.perf_counter() - PROCESS_START

    def versions(self) -> dict:
        jvm = self.spark._jvm
        return {
            "spark": self.spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
        }

    # -- timed passes --------------------------------------------------------

    def _remove_scratch_outputs(self) -> None:
        # round-trip builders keep their output until interpreter exit;
        # drop it as soon as the action that read it has finished
        made = getattr(self.entry, "_SCRATCH_DIRS", [])
        for d in made:
            shutil.rmtree(d, ignore_errors=True)
        made.clear()

    def _fail(self, name: str, error: Exception) -> None:
        self.failed += 1
        self.failures.setdefault(name, f"{type(error).__name__}: {str(error)[:300]}")

    def _noop(self, name: str) -> None:
        df = self.queries[name](self.spark, self.tables)
        df.write.format("noop").mode("overwrite").save()

    def _traced(self, name: str, tag: str) -> None:
        tr = self.tracer
        tr.query = tag
        self.spark.sparkContext.setJobGroup(tag, name)
        self.py4j.active = True
        try:
            with tr.span(name, "query"):
                with tr.span("build", "entry"):
                    df = self.queries[name](self.spark, self.tables)
                with tr.span("plan", "catalyst") as plan:
                    self.py4j.active = False  # the benchmark's own round trips
                    text = df._jdf.queryExecution().executedPlan().toString()
                    plan["plan_nodes"] = len(text.splitlines())
                    self.py4j.active = True
                with tr.span("execute", "exec") as ex:
                    df.write.format("noop").mode("overwrite").save()
        finally:
            self.py4j.active = False
            tr.query = None
        ex["stages"] = self.stages.query_metrics(tag)

    def run_pass(self, label: str, traced: bool = False) -> tuple[float, dict[str, float]]:
        """Runs the workload's queries once, in a new order; returns the
        pass time (the sum of the query times, so the untimed removal of
        round-trip output between queries is left out) and the latency of
        every query that succeeded."""
        order = list(self.names)
        self.rng.shuffle(order)
        latencies = {}
        took = 0.0
        for name in order:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if traced:
                    self._traced(name, f"{label}:{name}")
                else:
                    self._noop(name)
            except Exception as e:  # noqa: BLE001 - a failed query is reported, not fatal
                took += time.perf_counter() - t0
                self._fail(name, e)
                traceback.print_exc(file=sys.stderr)
            else:
                latencies[name] = time.perf_counter() - t0
                took += latencies[name]
            self._remove_scratch_outputs()
        self.scratch_peak_mb = max(self.scratch_peak_mb, dir_mb(self.scratch))
        return took, latencies

    # -- correctness gate ----------------------------------------------------

    def check(self) -> None:
        import duckdb

        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from check_oracle import canon_frame, dtype_mismatches

        oracles = self.entry.oracle_sql()
        con = duckdb.connect()
        for table in self.session.TABLES:
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{self.tables}/{table}.parquet'")
        for name in self.names:
            self.attempted += 1
            try:
                df = self.queries[name](self.spark, self.tables)
                rows, cols = df.collect(), df.columns
                if name in oracles:
                    rel = con.sql(oracles[name])
                    ocols = [d[0] for d in rel.description]
                    orows = rel.fetchall()
                    if sorted(cols) != sorted(ocols):
                        raise AssertionError(f"columns {sorted(cols)} != {sorted(ocols)}")
                    diff = dtype_mismatches(df.dtypes, ocols, rel.types)
                    if diff:
                        raise AssertionError("dtypes " + "; ".join(diff))
                    if canon_frame(cols, [tuple(r) for r in rows]) != canon_frame(ocols, orows):
                        raise AssertionError(f"values differ ({len(rows)} vs {len(orows)} rows)")
                elif len(rows) != EXPECTED_ROWS[self.args.tables][name]:
                    raise AssertionError(
                        f"{len(rows)} rows, expected {EXPECTED_ROWS[self.args.tables][name]}"
                    )
            except Exception as e:  # noqa: BLE001 - every wrong query is reported
                self._fail(name, e)
            self._remove_scratch_outputs()
        con.close()

    # -- measurements --------------------------------------------------------

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)

    def warm_passes(self, seconds: float, trace: bool) -> tuple[list, list]:
        """``SETTLE_PASSES`` settling passes, then a fixed number of warm
        passes of each kind that take about ``seconds`` at the baseline;
        returns (untraced, traced) lists of (label, pass_s, latencies)."""
        # passes keep getting faster for several passes after the cold one
        # (the JIT and the JVM heap are still growing into the work), so
        # the first ones are left out rather than mixed into the median
        for _ in range(SETTLE_PASSES):
            self.run_pass("settle")
        # a count, not a deadline: with a deadline a faster program would
        # run more passes and be measured further down its warm-up curve
        count = max(MIN_WARM_PASSES, round(seconds / PASS_SECONDS[self.args.workload]))
        plain, traced = [], []
        i = 0
        while len(plain) < count or (trace and len(traced) < count):
            is_traced = trace and i % 2 == 1
            label = f"p{i}"
            if is_traced:
                self.instr.install()
                calls0 = self.py4j.calls
                try:
                    took, lat = self.run_pass(label, traced=True)
                finally:
                    self.instr.uninstall()
                traced.append((label, took, lat, self.py4j.calls - calls0))
            else:
                took, lat = self.run_pass(label)
                plain.append((label, took, lat))
            i += 1
        return plain, traced

    def end_to_end(self, setup_s: float, cold_s: float, plain: list, rss: float) -> dict:
        samples = [t for _, _, lat in plain for t in lat.values()]
        p90, beyond, steady = tail_percentile(samples, 90.0)
        return {
            "setup_s": setup_s,
            "cold_pass_s": cold_s,
            "pass_s": median([took for _, took, _ in plain]),
            "query_p50_s": median(samples),
            "query_p90_s": p90,
            "peak_rss_mb": rss,
            "_samples": len(samples),
            "_p90_beyond": beyond,
            "_p90_steady": steady,
        }

    def per_layer(self, plain: list, traced: list, setup_spans: list) -> dict:
        """Per-pass sums over the traced passes, then the median over passes."""
        by_pass: dict[str, list] = {}
        for s in self.tracer.spans:
            if s["query"] is not None:
                by_pass.setdefault(s["query"].split(":", 1)[0], []).append(s)
        rows = []
        for label, took, _, calls in traced:
            row = pass_layers(by_pass.get(label, []), self.cpus)
            row["py4j.calls"] = calls
            row["trace.traced_pass_s"] = took
            rows.append(row)
        out = {k: median([row.get(k, 0.0) for row in rows]) for k in sorted({k for r in rows for k in r})}
        out["varying"] = [
            k for k in EXACT_COUNTS if len({row.get(k, 0) for row in rows}) > 1
        ]
        out["trace.untraced_pass_s"] = median([took for _, took, _ in plain])
        out["trace.overhead_s"] = out["trace.traced_pass_s"] - out["trace.untraced_pass_s"]
        out["trace.overhead_ratio"] = out["trace.traced_pass_s"] / out["trace.untraced_pass_s"]
        # get_spark runs only in setup; load_table runs there and in every query
        for s in setup_spans:
            if s["layer"] == "session":
                key = "session.get_spark_s" if s["name"] == "get_spark" else f"session.setup_{s['name']}_s"
                out[key] = out.get(key, 0.0) + (s["end"] - s["start"])
        return out

    # -- teardown ------------------------------------------------------------

    def stop(self) -> None:
        """Stop the session and wait until the JVM has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    spec = load_spec()
    cpus = len(os.sched_getaffinity(0))
    os.makedirs(SCRATCH_ROOT, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=SCRATCH_ROOT)
    pin_environment(scratch, cpus)
    sys.path.insert(0, ROOT)
    bench = None
    try:
        bench = Bench(args, scratch, cpus)
        setup_spans: list = []
        if args.trace:
            from tracer import Instrumentation, Py4jCounter, StageReader, Tracer

            bench.tracer = Tracer()
            bench.instr = Instrumentation(bench.tracer)
            bench.py4j = Py4jCounter()
            bench.py4j.install()
            bench.instr.install()
            try:
                setup_s = bench.setup()
            finally:
                bench.instr.uninstall()
            setup_spans = list(bench.tracer.spans)
            bench.stages = StageReader(bench.spark)
        else:
            setup_s = bench.setup()
        info = {"workload": args.workload, "seed": args.seed, "cpus": cpus, "tables": args.tables}
        info.update(bench.versions())
        cold_s, _ = bench.run_pass("cold")
        plain, traced = bench.warm_passes(args.seconds, bool(args.trace))
        rss = bench.peak_rss_mb()
        bench.check()
        e2e = bench.end_to_end(setup_s, cold_s, plain, rss)
        layer = bench.per_layer(plain, traced, setup_spans) if args.trace else {}
    finally:
        if bench is not None:
            bench.stop()
        shutil.rmtree(scratch, ignore_errors=True)

    failed = bench.failed
    e2e["failed_frac"] = failed / bench.attempted
    info.update(
        warm_pass_s=[round(took, 3) for _, took, _ in plain],
        warm_query_s={q: round(median([lat[q] for _, _, lat in plain if q in lat]), 3) for q in bench.names},
        failures=bench.failures,
        # round-trip output is removed after each query: this stays flat
        scratch_peak_mb=round(bench.scratch_peak_mb, 3),
    )
    print("# " + json.dumps(info))
    n, beyond = e2e["_samples"], e2e["_p90_beyond"]
    notes = {
        "query_p50_s": f"n={n}",
        "query_p90_s": f"n={n}, {beyond} beyond" + ("" if e2e["_p90_steady"] else ", fewer than 10: not gated"),
        "failed_frac": f"{failed} of {bench.attempted}",
    }
    for name, unit in REPORTED:
        note = f"  ({notes[name]})" if name in notes else ""
        print(f"{args.workload:16s} {name:12s} {e2e[name]:12.4f} {unit}{note}")
    if args.trace:
        os.makedirs(OUT_DIR, exist_ok=True)
        path = os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"info": info, "layers": layer, "spans": bench.tracer.spans}, fh)
        print(f"# tracing overhead {layer['trace.overhead_s']:+.4f} s per pass; spans in {path}")
        if layer["varying"]:
            print(f"# counts that differ between traced passes: {', '.join(layer['varying'])}")
        values = layer_values([m["name"] for m in spec["per_layer"]], layer, bench.instr.layers)
        wanted = spec["per_layer"]
    else:
        wanted, values = spec["end_to_end"], e2e
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": bench.attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
