"""User-path benchmark for opteryx_spark.

Drives the engine the way users do: SQL strings through
``opteryx_spark.connect().cursor()`` (workload ``point_sql``) and public
``opteryx_spark.operators`` calls (workload ``ops_pipeline``), one client
thread in a closed loop.  Every op's output is checked against DuckDB.

    python3 perfbench/run.py --workload point_sql --seed 1 --seconds 15 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` traces half of each round's ops (the other
half in the next round) and reports the per-layer metrics.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # first statement: the set-up clock starts here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import build  # noqa: E402
import check  # noqa: E402
import datagen  # noqa: E402
import spans  # noqa: E402
import workloads as wl  # noqa: E402

MAX_ROUNDS = 400


@dataclass
class OpRecord:
    op: wl.Op
    latency_s: float = 0.0
    rows: int = 0
    traced: bool = False
    error_type: str | None = None  # exception class, or WrongResult
    error: str | None = None
    layers: dict = field(default_factory=dict)

    def fail(self, error_type: str, message: str) -> None:
        self.error_type, self.error = error_type, message


class Bench:
    def __init__(self, args, data_dir: str, work_dir: str):
        self.args = args
        self.workload = args.workload
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.artifact_dir = os.path.join(work_dir, "artifacts")
        self.setup: dict[str, float] = {}
        self.records: list[OpRecord] = []
        self.sql_results: list[dict] = []
        self.spark = None
        self.tracer = None
        self.probe = None
        self.jvm_peak_rss_mb = 0.0
        self._last_df = None  # DataFrame of the latest op, for its planning phases

    # -- set-up -------------------------------------------------------------------

    def start(self) -> None:
        t = time.perf_counter()
        import opteryx_spark as ox
        from opteryx_spark import catalog
        from opteryx_spark.session import get_session

        self.setup["bench.import_s"] = time.perf_counter() - t
        t = time.perf_counter()
        self.spark = get_session()
        self.setup["session.boot_s"] = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.workload == "point_sql":
            t = time.perf_counter()
            self.conn = ox.connect()
            self.setup["cursor.connect_s"] = time.perf_counter() - t
            t = time.perf_counter()
            catalog.register_sf_dir(self.spark, self.data_dir)
        else:
            # no cursor on this workload: the operators read their input
            # through the catalog's load_table, primed here
            self.setup["cursor.connect_s"] = 0.0
            t = time.perf_counter()
            catalog.load_table(self.spark, self.data_dir, "documents")
        self.setup["catalog.register_s"] = time.perf_counter() - t
        if self.args.trace:
            self.tracer = spans.Tracer()
            self.probe = spans.SparkProbe(self.spark)

    def warm_up(self) -> None:
        """One untimed round, so JIT and whole-stage codegen are warm before
        the first timed op.  Point statements get their own seeded parameters."""
        t = time.perf_counter()
        if self.workload == "point_sql":
            ops = wl.op_rounds(self.workload, -1 - self.args.seed, self.args.scale, 1)[0]
        else:
            os.makedirs(self.artifact_dir, exist_ok=True)
            ops = [wl.Op(-1, name) for name in wl.PIPELINE_OPS]
        for op in ops:
            try:
                self._run(op, None)
            except Exception:  # noqa: BLE001 — the timed op of this template records it
                traceback.print_exc(file=sys.stderr)
        self.setup["bench.warmup_s"] = time.perf_counter() - t

    # -- ops --------------------------------------------------------------------

    def _point_op(self, op: wl.Op) -> tuple[int, list]:
        """The PEP-249 sequence a dashboard client runs for one statement."""
        cur = self.conn.cursor()
        cur.execute(op.sql, op.params)
        desc = cur.description
        rows = cur.fetchall()
        n = cur.rowcount
        self._last_df = cur.df
        if desc is None or n != len(rows):
            raise AssertionError(f"rowcount {n} != {len(rows)} fetched rows")
        return n, rows

    def _pipeline_op(self, op: wl.Op, group: str | None = None):
        """Build, then materialize (or write) one operator op; returns
        (rows delivered, result for the check).  With ``group`` (a traced
        op) each phase gets a span and its own job group."""
        def phase(name: str):
            if group is None:
                return contextlib.nullcontext()
            self.probe.set_group(f"{group}-{name}")
            return self.tracer.span(f"operators.{name}")

        with phase("build"):
            built = wl.build_op(op.template, self.spark, self.data_dir, self.artifact_dir)
        if op.template == "postings_write":
            with phase("write"):
                wl.write_postings(built, self.artifact_dir)
            self._last_df = None
            return 0, None
        with phase("action"):
            rows = built.collect()
        self._last_df = built
        return len(rows), (built.columns, rows)

    def run_op(self, op: wl.Op, traced: bool) -> OpRecord:
        rec = OpRecord(op, traced=traced)
        group = f"pb-{op.op_id}"
        if traced:
            self.tracer.op_id = op.op_id
            gc0 = self.probe.gc_ms()
            if self.workload == "point_sql":
                self.probe.set_group(group)
        result = None
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span("bench.op"):
                    result = self._run(op, group)
            else:
                result = self._run(op, None)
        except Exception as exc:  # noqa: BLE001 — one failing op must not end the run
            rec.fail(type(exc).__name__, _one_line(exc))
            traceback.print_exc(file=sys.stderr)
        rec.latency_s = time.perf_counter() - t0
        if traced:
            self.tracer.op_id = None
            self.probe.clear_group()
            self._read_counters(rec, group, gc0)
        if result is not None and rec.error is None:
            rec.rows = result[0]
            error = self._check(op, result[1])
            if error:
                rec.fail("WrongResult", error)
        return rec

    def _run(self, op: wl.Op, group: str | None):
        if self.workload == "point_sql":
            return self._point_op(op)
        return self._pipeline_op(op, group)

    # -- traced counters -------------------------------------------------------------

    def _read_counters(self, rec: OpRecord, group: str, gc0: int) -> None:
        p = self.probe
        rec.layers["gc_ms"] = p.gc_ms() - gc0
        rec.layers["persisted"] = p.persisted_rdds()
        if self.workload == "point_sql":
            jobs, stages, tasks = p.group_counts(group)
        else:
            build = p.group_counts(f"{group}-build")
            after = [p.group_counts(f"{group}-{ph}") for ph in ("action", "write")]
            jobs, stages, tasks = (sum(x) for x in zip(build, *after))
            rec.layers["eager_jobs"] = build[0]
        df, self._last_df = self._last_df, None
        rec.layers.update(jobs=jobs, stages=stages, tasks=tasks)
        if df is not None and rec.error is None:
            rec.layers.update(spans.planning_phases_ms(df))

    # -- checks -----------------------------------------------------------------

    def _check(self, op: wl.Op, result) -> str | None:
        """Error text when an operator result differs from its expected
        result; SQL results are queued for ``check_sql``."""
        if self.workload == "point_sql":
            self.sql_results.append({
                "op_id": op.op_id, "template": op.template,
                "duck_sql": self._duck_sql(op), "rows": check.canon_rows(result),
            })
            return None
        want = build.load_expected(self.data_dir, op.template)
        if op.template == "postings_write":
            cols, got = wl.POSTINGS_COLS, check.canon_rows(wl.postings_summary(self.artifact_dir))
        else:
            cols, rows = result[0], result[1]
            got = check.canon_rows(rows, cols)
        if self.args.plant_wrong_expected == op.template:
            want = dict(want, digest="0" * 64)
        error = None
        if sorted(cols) != want["cols"]:
            error = f"columns {sorted(cols)} != expected {want['cols']}"
        elif check.digest(got) != want["digest"]:
            error = check.rows_match(got, check.rows_from_json(want["rows"])) or (
                "result digest differs from the expected digest")
        return error

    def _duck_sql(self, op: wl.Op) -> str:
        if self.args.plant_wrong_expected == op.template:
            return "SELECT 'planted wrong expected result' AS wrong"
        return check.duck_sql(op.sql, op.params)

    def check_sql(self) -> None:
        """DuckDB checks of the SQL results, in a child process."""
        if not self.sql_results:
            return
        job = os.path.join(self.work_dir, "sql_results.json")
        out = os.path.join(self.work_dir, "sql_verdicts.json")
        with open(job, "w") as f:
            json.dump({"results": self.sql_results, "data_dir": self.data_dir, "root": ROOT}, f)
        subprocess.run([sys.executable, os.path.join(HERE, "check.py"), job, out],
                       check=True, cwd=ROOT)
        with open(out) as f:
            verdicts = json.load(f)
        by_id = {r.op.op_id: r for r in self.records}
        for v in verdicts:
            if v["error"]:
                by_id[v["op_id"]].fail("WrongResult", v["error"])

    # -- the timed loop ------------------------------------------------------------

    def measure(self) -> float:
        """Run whole rounds until the timed time reaches ``--seconds``, and at
        least two rounds when tracing or on ops_pipeline (one round is only
        three samples).  A traced run traces half the templates in even rounds
        and the other half in odd rounds, so each template is timed both ways
        and later, warmer rounds do not count as tracing overhead.  Returns
        the process-clock time of the first timed op."""
        rounds = wl.op_rounds(self.workload, self.args.seed, self.args.scale, MAX_ROUNDS)
        rank = {name: i for i, name in enumerate(sorted({op.template for op in rounds[0]}))}
        t_first = time.perf_counter()
        timed = 0.0
        min_rounds = 2 if self.args.trace or self.workload == "ops_pipeline" else 1
        for rnd, ops in enumerate(rounds):
            if rnd >= min_rounds and timed >= self.args.seconds:
                break
            for op in ops:
                traced = bool(self.args.trace) and (rank[op.template] + rnd) % 2 == 1
                if traced:
                    self.tracer.install(type(self.spark))
                try:
                    rec = self.run_op(op, traced)
                finally:
                    if traced:
                        self.tracer.uninstall()
                self.records.append(rec)
                timed += rec.latency_s
        return t_first

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if self.probe is not None:
            self.jvm_peak_rss_mb = self.probe.jvm_peak_rss_mb()
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _one_line(exc: BaseException) -> str:
    msg = str(exc).strip().splitlines()
    return (msg[0] if msg else "")[:300]


# --- metrics ---------------------------------------------------------------------


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest order statistic with at least ten
    samples above it; with fewer than 11 samples, the maximum."""
    xs = sorted(latencies)
    n = len(xs)
    k = n - 11 if n >= 11 else n - 1
    return xs[k], 100.0 * (k + 1) / n, n


def end_to_end(bench: Bench, setup_s: float) -> dict[str, tuple[float, str]]:
    recs = bench.records
    lat = [r.latency_s for r in recs]
    timed = sum(lat)
    ok = [r for r in recs if r.error is None]
    t_val, t_pct, n = tail(lat)
    print(f"op_tail_ms is p{t_pct:.1f} of {n} op samples", flush=True)
    by_template: dict[str, list[float]] = {}
    for r in recs:
        by_template.setdefault(r.op.template, []).append(r.latency_s * 1e3)
    print("median ms by template: " + ", ".join(
        f"{k} {statistics.median(v):.0f}" for k, v in sorted(by_template.items())), flush=True)
    print("latency ms by op: " + " ".join(f"{r.op.template}:{1e3 * r.latency_s:.0f}"
                                          for r in recs), flush=True)
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (statistics.median(lat) * 1e3, "ms"),
        "op_tail_ms": (t_val * 1e3, "ms"),
        "ops_per_s": (len(recs) / timed, "1/s"),
        "rows_per_s": (sum(r.rows for r in ok) / timed, "rows/s"),
        "py_peak_rss_mb": (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, "MB"),
        "ok_ratio": (len(ok) / len(recs), "1"),
    }


def _is_operator_call(name: str) -> bool:
    return name.startswith("operators.") and name not in (
        "operators.build", "operators.action", "operators.write")


def per_layer(bench: Bench) -> dict[str, tuple[float, str]]:
    tr = bench.tracer
    by_index = dict(enumerate(tr.spans))
    traced = [r for r in bench.records if r.traced and r.error is None]

    def med(values):
        return statistics.median(values) if values else 0.0

    def mean(values):
        return statistics.fmean(values) if values else 0.0

    per_op = []
    for r in traced:
        op_spans = tr.op_spans(r.op.op_id)
        ms = {name: spans.layer_ms(op_spans, name, by_index) for name in (
            "bench.op", "cursor.execute", "cursor.description", "cursor.fetchall",
            "cursor.rowcount", "rewriter.rewrite", "spark.sql",
            "operators.build", "operators.action", "operators.write")}
        ms["operators.calls"] = spans.layer_ms(op_spans, _is_operator_call, by_index)
        ms["cursor.execute_self"] = spans.self_ms(op_spans, "cursor.execute")
        per_op.append((r, ms))

    def layer(name, pred=lambda r: True):
        return med([ms[name] for r, ms in per_op if pred(r) and ms[name] > 0.0] or [0.0])

    is_write = lambda r: r.op.template == "postings_write"  # noqa: E731
    is_read = lambda r: r.op.template == "text_bm25_search_index"  # noqa: E731
    # overhead per template (traced against untraced median), so the
    # different parameters of the two rounds do not count as overhead
    by_template: dict[str, tuple[list, list]] = {}
    for r in bench.records:
        by_template.setdefault(r.op.template, ([], []))[r.traced].append(r.latency_s)
    overhead = [statistics.median(t) / statistics.median(u) - 1.0
                for u, t in by_template.values() if u and t]
    covered = [
        100.0 * sum(ms[k] for k in ("cursor.execute", "cursor.description", "cursor.fetchall",
                                     "cursor.rowcount", "operators.build", "operators.action",
                                     "operators.write")) / ms["bench.op"]
        for _, ms in per_op if ms["bench.op"] > 0
    ]
    pl = {
        "bench.import_s": (bench.setup["bench.import_s"], "s"),
        "session.boot_s": (bench.setup["session.boot_s"], "s"),
        "cursor.connect_s": (bench.setup["cursor.connect_s"], "s"),
        "catalog.register_s": (bench.setup["catalog.register_s"], "s"),
        "bench.warmup_s": (bench.setup["bench.warmup_s"], "s"),
        "cursor.execute_ms": (layer("cursor.execute"), "ms"),
        "cursor.execute_self_ms": (layer("cursor.execute_self"), "ms"),
        "rewriter.rewrite_ms": (layer("rewriter.rewrite"), "ms"),
        "spark.sql_ms": (layer("spark.sql"), "ms"),
        "cursor.description_ms": (layer("cursor.description"), "ms"),
        "cursor.fetchall_ms": (layer("cursor.fetchall"), "ms"),
        "cursor.rowcount_ms": (layer("cursor.rowcount"), "ms"),
        "cursor.rows_fetched": (mean([r.rows for r, ms in per_op if ms["cursor.fetchall"] > 0]),
                                "rows"),
        "catalyst.analysis_ms": (mean([r.layers.get("analysis", 0.0) for r, _ in per_op]), "ms"),
        "catalyst.optimization_ms": (mean([r.layers.get("optimization", 0.0)
                                           for r, _ in per_op]), "ms"),
        "catalyst.planning_ms": (mean([r.layers.get("planning", 0.0) for r, _ in per_op]), "ms"),
        "spark.jobs_per_op": (mean([r.layers["jobs"] for r, _ in per_op]), "count"),
        "spark.stages_per_op": (mean([r.layers["stages"] for r, _ in per_op]), "count"),
        "spark.tasks_per_op": (mean([r.layers["tasks"] for r, _ in per_op]), "count"),
        "operators.build_ms": (layer("operators.calls"), "ms"),
        "operators.eager_jobs_per_op": (mean([r.layers.get("eager_jobs", 0)
                                              for r, _ in per_op]), "count"),
        "operators.action_ms": (layer("operators.action"), "ms"),
        "operators.write_ms": (layer("operators.write", is_write), "ms"),
        "operators.probe_ms": (med([r.latency_s * 1e3 for r, _ in per_op if is_read(r)]
                                   or [0.0]), "ms"),
        "operators.persisted_frames_after_op": (mean([r.layers["persisted"]
                                                      for r, _ in per_op]), "count"),
        "session.jvm_gc_ms_per_op": (mean([r.layers["gc_ms"] for r, _ in per_op]), "ms"),
        "session.jvm_peak_rss_mb": (bench.jvm_peak_rss_mb, "MB"),
        "bench.layer_coverage_pct": (med(covered) if covered else 0.0, "%"),
        "bench.trace_overhead_pct": (100.0 * med(overhead), "%"),
    }
    return pl


# --- entry point ---------------------------------------------------------------------


def parse_args(argv):
    ap = argparse.ArgumentParser(description="opteryx_spark user-path benchmark")
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.1,
                    help="table scale of point_sql (ops_pipeline uses a tenth of it, at most "
                         "0.01); 0.1 is the benchmark, 0.001 is for smoke tests")
    ap.add_argument("--plant-wrong-expected", metavar="TEMPLATE", default=None,
                    help="replace TEMPLATE's expected result with a wrong one "
                         "(checks that mismatches are counted as failed ops)")
    return ap.parse_args(argv)


def configure_env(work_dir: str) -> None:
    """Keep every file Spark writes inside the work directory, and fix the
    parallelism and time zone."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # -XX:-UsePerfData: no hsperfdata file in /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell')
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.chdir(work_dir)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "opteryx_spark", "__init__.py")):
        print(f"perfbench: no opteryx_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    t = time.perf_counter()
    if not build.is_built(ROOT, args.scale):
        subprocess.run([sys.executable, os.path.join(HERE, "build.py"), "--scale",
                        str(args.scale)], check=True, cwd=ROOT)
    build_s = time.perf_counter() - t  # one-time per checkout: not set-up
    data_dir = datagen.data_dir(ROOT, wl.table_scale(args.workload, args.scale))
    work_dir = os.path.join(ROOT, ".perfbench_data", "work", f"{args.workload}-{os.getpid()}")
    configure_env(work_dir)

    bench = Bench(args, data_dir, work_dir)
    try:
        bench.start()
        bench.warm_up()
        t_first = bench.measure()
        bench.check_sql()
    finally:
        if bench.spark is not None:
            bench.stop()
    os.chdir(ROOT)
    if bench.tracer is not None:
        trace_dir = os.path.join(ROOT, ".perfbench_data", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        bench.tracer.write(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    shutil.rmtree(work_dir, ignore_errors=True)

    setup_s = t_first - T_PROCESS - build_s
    metrics = per_layer(bench) if args.trace else end_to_end(bench, setup_s)
    print("set-up: " + ", ".join(f"{k} {v:.3f}" for k, v in bench.setup.items())
          + f", build_s {build_s:.3f}", flush=True)
    for r in bench.records:
        if r.error is not None:
            print(f"FAILED {args.workload}/{r.op.template} op {r.op.op_id}: "
                  f"{r.error_type}: {r.error}", flush=True)
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}", flush=True)
    failed = sum(1 for r in bench.records if r.error is not None)
    out = {
        "correct": failed == 0,
        "attempted": len(bench.records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
