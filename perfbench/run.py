"""Benchmark of the aws_etl_fiap_spark engine: three workloads, each a
closed loop with one client on a ``local[nproc]`` session built by
``session.get_spark``.  ``BENCHMARK.json`` declares llm_curation and
daily_etl; refined_sql runs when named, without ``--workload`` and in
``--smoke``.

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py            # every workload, end-to-end metrics
    python3 perfbench/run.py --smoke    # every workload and mode, smallest size

Run from the repository root.  A run makes its inputs from the seed under
``.perfbench_work/``, launches the JVM and sets the session up
(``setup_s``), runs one cold pass, checks every operation's output against
DuckDB, then runs steady passes for at least ``--seconds``.  It prints each
metric on its own line, a stamp line, and one JSON result line.
``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` alternates traced and untraced steady passes and reports its
per-layer metrics.  Without ``--workload`` every workload runs in turn, each
in its own process;
``--smoke`` does that at the smallest size in both modes and fails unless
each run is correct and emits every metric ``BENCHMARK.json`` names.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
#: Fewest steady passes a run makes in each mode; a traced run makes this
#: many traced and this many untraced passes.
STEADY_PASSES = 1
DRIVER_MEM = "3g"


def _median(values):
    return statistics.median(values) if values else 0.0


def _p90(values):
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def load_spec() -> dict:
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as fh:
        return json.load(fh)


class Runtime:
    """What a workload's ``run_op`` sees: the session, the tracer, and the
    phase/count helpers that set job groups and open spans."""

    def __init__(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.tag = ""
        self.plans: dict[str, object] = {}
        #: The DataFrame each operation counted last; the output checks
        #: collect the cold pass's frames.
        self.frames: dict[str, object] = {}

    @contextmanager
    def phase(self, op: str, kind: str, span: str):
        self.spark.sparkContext.setJobGroup(f"{self.tag}:{op}:{kind}", op)
        with self.tracer.span(span):
            yield

    def count(self, op: str, df) -> int:
        """Force ``df`` with the global count ``DataFrame.count()`` builds,
        planning first so Catalyst time and execution time split.  Returns
        the row count."""
        self.frames[op] = df
        target = df.groupBy().count()
        with self.phase(op, "action", "queries.plan"):
            qe = target._jdf.queryExecution()
            qe.executedPlan()
        self.plans[op] = qe
        with self.phase(op, "action", "exec.action"):
            return target.collect()[0][0]


class Bench:
    def __init__(self, args, workload, spec) -> None:
        import tracing as tr

        self.args = args
        self.w = workload
        self.spec = spec
        self.tr = tr
        self.tracer = tr.Tracer()
        self.root = os.getcwd()
        self.work = os.path.join(self.root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        self.ncpu = len(os.sched_getaffinity(0))
        self.durations: dict[tuple[int, str], float] = {}
        self.results: dict[tuple[int, str], object] = {}
        self.raised: dict[tuple[int, str], str] = {}
        self.layer_rows: list[dict[str, float]] = []
        self.op_rows: dict[str, list[dict[str, float]]] = defaultdict(list)
        self.log_counts: dict[tuple[str, str], int] = defaultdict(int)

    # -- session ----------------------------------------------------------------

    def _session(self):
        from aws_etl_fiap_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        return get_spark(
            app_name="perfbench",
            master=f"local[{self.ncpu}]",
            shuffle_partitions=self.ncpu,
            driver_mem=DRIVER_MEM,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
                "spark.local.dir": tmp,
                # A fixed-size heap: G1 resizing the heap mid-run made peak
                # RSS and pass times vary from run to run.
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}",
            },
        )

    def setup(self) -> dict:
        """Launch the JVM and start the session, then run the workload's
        warm-up operation: what every fresh batch run pays before its
        first pass."""
        t0 = time.perf_counter()
        self.spark = self._session()
        t1 = time.perf_counter()
        self.w.warmup(self.spark)
        t2 = time.perf_counter()
        self.jvm = self.spark.sparkContext._gateway.proc
        self.rt = Runtime(self.spark, self.tracer)
        self.stats = self.tr.SparkStats(self.spark) if self.args.trace else None
        return {"start_s": t1 - t0, "warmup_s": t2 - t1}

    def shutdown(self) -> None:
        """Stop the session and its JVM and wait until the JVM has exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        self.jvm.stdin.close()
        try:
            self.jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- passes -----------------------------------------------------------------

    def run_pass(self, index: int, traced: bool) -> float:
        self.w.before_pass(self.spark, index)
        readers = sys.modules["aws_etl_fiap_spark.sources.readers"]
        cache_before = len(readers._SCHEMA_CACHE) + len(readers._NPARTS_CACHE)
        if traced:
            self.stats.drain()
            self.stats.last_execution = self.stats._latest_execution()
            self.capture.take()
        self.tracer.active = traced
        self.rt.tag = f"p{index}"
        wall = 0.0
        per_op = {}
        for op in self.w.order():
            self.tracer.op = op
            t0 = time.perf_counter()
            try:
                self.results[(index, op)] = self.w.run_op(self.rt, op)
            except Exception as exc:  # counted in failed_ratio; the run goes on
                self.raised[(index, op)] = repr(exc)[:300]
            dt = time.perf_counter() - t0
            self.tracer.op = None
            self.durations[(index, op)] = dt
            wall += dt
            if traced:
                self.tracer.active = False
                per_op[op] = self._harvest(index, op)
                self.tracer.active = True
        self.tracer.active = False
        files = self.last_files = self.w.after_pass(self.spark)
        if traced:
            spans = self.tracer.take()
            growth = len(readers._SCHEMA_CACHE) + len(readers._NPARTS_CACHE) - cache_before
            self._fold_pass(index, wall, spans, per_op, files, growth)
        return wall

    def _harvest(self, index: int, op: str) -> dict[str, float]:
        st = self.stats
        st.drain()
        built = st.jobs(f"p{index}:{op}:construct")
        ran = st.jobs(f"p{index}:{op}:action")
        nodes = st.new_executions()
        qe = self.rt.plans.pop(op, None)
        exchanges = self.tr.count_exchanges(qe.executedPlan().toString()) if qe is not None else 0
        logs = self.capture.take()
        for key, n in logs.items():
            self.log_counts[key] += n
        return {
            "construct_jobs": built["jobs"],
            "jobs": ran["jobs"] + built["jobs"],
            "stages": ran["stages"] + built["stages"],
            "tasks": ran["tasks"] + built["tasks"],
            "exchanges": exchanges,
            "log_warn": sum(n for (_, lvl), n in logs.items() if lvl == "WARN"),
            "log_error": sum(n for (_, lvl), n in logs.items() if lvl == "ERROR"),
            **nodes,
        }

    def _fold_pass(self, index, wall, spans, per_op, files, cache_growth) -> None:
        layer = self.tr.layer
        by_name = defaultdict(float)
        self_by_layer = defaultdict(float)
        op_span = defaultdict(float)
        for s in spans:
            by_name[s.name] += s.duration
            self_by_layer[layer(s.name)] += s.self_s
            op_span[(s.op, s.name)] += s.duration
        n_reads = sum(1 for s in spans if s.name in (
            "sources.readers.load_table", "sources.readers.spread_input"))

        def total(key):
            return float(sum(v.get(key, 0.0) for v in per_op.values()))

        def prefix(p):
            return sum(v for k, v in by_name.items() if k.startswith(p))

        join_rows = total("join_rows_max")
        returned = sum(
            float(self.results.get((index, op)) or 0)
            for op, v in per_op.items() if v.get("join_rows_max")
        )
        row = {
            "trace.pass_s": wall,
            "trace.untraced_s": wall - sum(self_by_layer.values()),
            "sources.readers.load_table_s": by_name["sources.readers.load_table"],
            "sources.readers.cache_hit_ratio": (
                1.0 - min(cache_growth, n_reads) / n_reads if n_reads else 1.0),
            "sources.scan_rows": total("scan_rows"),
            "sources.scan_bytes": total("scan_bytes"),
            "sources.writers.write_s": prefix("sources.writers."),
            "sources.writers.files_written": files.get("files_written", 0),
            "sources.writers.bytes_written": files.get("bytes_written", 0),
            "sources.stored_bytes_ratio": files.get("stored_bytes_ratio", 0.0),
            "sources.catalog.register_s": prefix("sources.catalog."),
            "sources.ingest.collect_s": prefix("sources.ingest."),
            "plans.pipeline.self_s": sum(
                s.self_s for s in spans if s.name == "plans.pipeline.run_pipeline"),
            "streaming.drain_s": prefix("streaming."),
            "streaming.batches": files.get("batches", 0),
            "queries.construct_s": by_name["queries.construct"],
            "queries.construct_jobs": total("construct_jobs"),
            "queries.plan_s": by_name["queries.plan"],
            "queries.exchanges": total("exchanges"),
            "exec.action_s": by_name["exec.action"],
            "exec.jobs": total("jobs"),
            "exec.stages": total("stages"),
            "exec.tasks": total("tasks"),
            "exec.shuffle_bytes": total("shuffle_bytes"),
            "exec.spill_bytes": total("spill_bytes"),
            "exec.log_warn": total("log_warn"),
            "exec.log_error": total("log_error"),
            "operators.python_bytes": total("python_bytes"),
            "operators.join_yield": returned / join_rows if join_rows else 0.0,
        }
        for name in ("sources", "plans", "streaming", "queries", "operators", "exec"):
            row[f"{name}.self_s"] = self_by_layer[name]
        row["_index"] = index
        self.layer_rows.append(row)
        for op, v in per_op.items() if index > 0 else ():
            self.op_rows[op].append({
                "construct_s": op_span[(op, "queries.construct")],
                "construct_jobs": v["construct_jobs"],
                "exchanges": v["exchanges"],
                "action_s": op_span[(op, "exec.action")],
                "jobs": v["jobs"],
            })

    # -- checks -----------------------------------------------------------------

    def verdicts(self, checks) -> tuple[int, int, dict]:
        """attempted = timed operation executions; failed = those that raised,
        returned a row count other than the oracle's, or belong to an
        operation whose output failed its value check."""
        failed = 0
        reasons = {}
        for key in self.durations:
            _, op = key
            chk = checks.get(op, {"ok": True, "rows": None})
            if key in self.raised:
                reason = self.raised[key]
            elif not chk["ok"]:
                reason = chk.get("error", "value check failed")
            elif chk["rows"] is not None and self.results.get(key) != chk["rows"]:
                reason = f"count {self.results.get(key)} != oracle {chk['rows']}"
            else:
                continue
            failed += 1
            reasons.setdefault(op, reason)
        return len(self.durations), failed, reasons

    # -- main -------------------------------------------------------------------

    def run(self) -> int:
        args = self.args
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        t0 = time.perf_counter()
        sizes = self.w.prepare(self.work, args.seed)
        input_gen_s = time.perf_counter() - t0
        if args.trace:
            self.tracer.install()
        self.capture = self.tr.StderrCapture(self.tracer, os.path.join(self.work, "jvm-stderr.log"))
        self.capture.start()
        phases = {"inputs": input_gen_s}
        clock = time.perf_counter()

        def lap(name):
            nonlocal clock
            now = time.perf_counter()
            phases[name] = now - clock
            clock = now

        try:
            setup = self.setup()
            lap("setup")
            cold = self.run_pass(0, traced=bool(args.trace))
            lap("cold")
            self.spark.sparkContext.setJobGroup("check", "output checks")
            checks = self.w.check(self.spark, self.rt.frames)
            lap("check")
            steady: dict[bool, list[float]] = {False: [], True: []}
            index = 1
            t_start = time.perf_counter()
            while (time.perf_counter() - t_start < args.seconds
                   or index <= STEADY_PASSES * (1 + args.trace)):
                # Traced passes come first and alternate with untraced ones:
                # a traced pass is never the warmer of a pair, so the
                # reported overhead errs high.
                traced = bool(args.trace) and index % 2 == 1
                steady[traced].append(self.run_pass(index, traced))
                index += 1
            lap("steady")
            rss = self.tr.peak_rss_mb(self.jvm.pid)
            self.shutdown()
            lap("shutdown")
        finally:
            self.capture.stop()
        for key, n in self.capture.take().items():
            self.log_counts[key] += n
        attempted, failed, reasons = self.verdicts(checks)
        steady_ops = [d for (i, _), d in self.durations.items() if i > 0]
        untraced = steady[False]
        overhead = (_median(steady[True]) - _median(untraced)) if steady[True] else None
        ratio = failed / attempted if attempted else 0.0
        if args.trace:
            values = self.per_layer(setup, overhead)
            declared = self.spec["per_layer"]
        else:
            values = {
                "setup_s": setup["start_s"] + setup["warmup_s"],
                "cold_pass_s": cold,
                "pass_s": _median(untraced),
                "op_p50_s": _median(steady_ops),
                "op_p90_s": _p90(steady_ops),
                "peak_rss_mb": sum(rss.values()),
                # failed_ratio is 0 on a healthy run; its complement never is.
                "ok_ratio": 1.0 - ratio,
            }
            declared = self.spec["end_to_end"]
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
        stamp = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": self.ncpu, "loadavg_1m": os.getloadavg()[0],
            "spark": _version("pyspark"), "pyarrow": _version("pyarrow"),
            "duckdb": _version("duckdb"), "python": platform.python_version(),
            "inputs": sizes, "phase_s": phases, "peak_rss_mb": rss,
            "setup_s": setup,
            "steady_passes": len(untraced), "traced_passes": len(steady[True]),
            "pass_walls_s": {"untraced": untraced, "traced": steady[True]},
            "op_samples": len(steady_ops), "trace_overhead_s": overhead,
            "stored_bytes_ratio": self.last_files.get("stored_bytes_ratio"),
            "checks": checks, "failures": reasons,
            "log_lines": {f"{op}:{lvl}": n for (op, lvl), n in sorted(self.log_counts.items())},
        }
        for name, m in metrics.items():
            print(f"{name} = {m['value']:.6g} {m['unit']}")
        print(f"failed_ratio = {ratio:.6g} ratio ({failed}/{attempted} operations)")
        if "stored_bytes_ratio" in self.last_files:
            print(f"stored_bytes_ratio = {self.last_files['stored_bytes_ratio']:.6g} ratio")
        print(json.dumps({"stamp": stamp}, default=str))
        print(json.dumps({
            "correct": failed == 0 and all(c["ok"] for c in checks.values()),
            "attempted": attempted, "failed": failed, "metrics": metrics,
        }))
        shutil.rmtree(self.work, ignore_errors=True)
        return 0

    def per_layer(self, setup, overhead) -> dict[str, float]:
        from workloads import LLM_CURATION_OPS, REFINED_SQL_OPS

        steady = [r for r in self.layer_rows if r["_index"] > 0]
        cold = [r for r in self.layer_rows if r["_index"] == 0]
        keys = [k for k in self.layer_rows[0] if not k.startswith("_")]
        out = {k: _median([r[k] for r in steady]) for k in keys}
        out["sources.readers.cache_hit_ratio"] = cold[0]["sources.readers.cache_hit_ratio"]
        out["session.start_s"] = setup["start_s"]
        out["session.warmup_s"] = setup["warmup_s"]
        out["trace.overhead_s"] = overhead or 0.0
        for op in REFINED_SQL_OPS + LLM_CURATION_OPS:
            rows = self.op_rows.get(op, [])
            for key, prefix in (("construct_s", "queries.construct_s"),
                                ("construct_jobs", "queries.construct_jobs"),
                                ("exchanges", "queries.exchanges"),
                                ("action_s", "exec.action_s"), ("jobs", "exec.jobs")):
                out[f"{prefix}.{op}"] = _median([r[key] for r in rows])
        return out


def _version(module: str) -> str:
    try:
        return __import__(module).__version__
    except Exception:
        return "unknown"


def run_all(spec: dict, traces: tuple[int, ...], small: bool, seed: int, seconds: float) -> int:
    """Run every workload in ``traces`` modes, each in its own process, and
    print its metric lines.  Fails unless every run exits 0, is correct and
    emits every metric ``BENCHMARK.json`` declares for its mode."""
    from workloads import WORKLOADS

    problems = []
    for name in WORKLOADS:
        for trace in traces:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd + ["--small"] * small, capture_output=True, text=True,
                                  timeout=900)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                problems.append(f"{name} trace={trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            result = json.loads(lines[-1])
            for line in lines[:-1]:
                if not line.startswith("{"):
                    print(f"{name} trace={trace}: {line}", flush=True)
            if not result["correct"]:
                problems.append(f"{name} trace={trace}: incorrect ({lines[-2][:500]})")
            wanted = spec["per_layer" if trace else "end_to_end"]
            missing = [m["name"] for m in wanted if m["name"] not in result["metrics"]]
            if missing:
                problems.append(f"{name} trace={trace}: missing {missing}")
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


def main() -> int:
    # The package lives at the repository root; Spark's Python workers need
    # it on PYTHONPATH, not only on this process's sys.path.
    root = os.getcwd()
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    import aws_etl_fiap_spark  # noqa: F401  (fail fast outside a full checkout)

    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("refined_sql", "llm_curation", "daily_etl"),
                    help="one workload; all of them when omitted")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="smallest input size")
    ap.add_argument("--smoke", action="store_true",
                    help="every workload in both modes at the smallest size")
    args = ap.parse_args()
    if args.smoke:
        return run_all(spec, (0, 1), True, args.seed, 1)
    if not args.workload:
        return run_all(spec, (args.trace,), args.small, args.seed, args.seconds)
    import workloads

    return Bench(args, workloads.make(args.workload, args.small), spec).run()


if __name__ == "__main__":
    sys.exit(main())
