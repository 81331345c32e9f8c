"""The engine's benchmark: named workloads, closed loop, checked outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the repository root. One client runs ops back to back on
`local[nproc]`; Spark's task threads are the only concurrency. An op is
one call a user makes:

- query workloads: `spec.fn(spark, dir)` (build), `executedPlan` (plan),
  then the noop save (exec), for one registered query;
- `claims_etl`: one `plans.claim_pipeline.run_pipeline` over one drop,
  including both of its sinks.

A pass runs every op of the workload once, in an order drawn from the
seed. A run is: set-up (SETUP_ROUNDS times; the median is `setup_s`),
one cold pass in the fresh session (`cold_pass_s`), unmeasured warm-up
passes (the workload's "warmup_passes"), then measured passes until
`--seconds` have been spent in measured ops, then the untimed
correctness checks. The seed
sets the generated inputs and the op orders; input sizes are fixed.

Correctness: every `claims_etl` op is compared with the pure-Python
oracle in `claims.py`; every query of a query workload is compared with
its DuckDB oracle (`registry.oracle_sql()`) on the run's inputs. An op
that raises or whose output fails its check counts in `failed`.

With `--trace 0` the last stdout line carries the end-to-end metrics;
with `--trace 1`, the per-layer metrics of a traced run (see tracing.py),
whose measured passes alternate untraced and traced so that the tracing
overhead is measured in the same run. `--smoke` shrinks every input
(sf0.001 tables, small drops) and skips the warm-up, for a quick check
that the benchmark works (test_bench.py).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import claims  # noqa: E402
import tables  # noqa: E402
import tracing  # noqa: E402

T0 = time.monotonic()
# The first set-up also starts the JVM, and the second pays for the first
# session's slower stop, so the median needs a few ordinary rounds around
# it: with three rounds `setup_s` was the slower of two and moved by a
# fifth between ten-run sets.
SETUP_ROUNDS = 5
# Warm passes after the cold pass run unmeasured: the JVM's JIT keeps
# compiling the ops' code paths, and on 4 cores the first warm passes run
# up to a half slower than later ones. The warm-up is counted in passes,
# not seconds, so that the measured passes start at the same point of
# that curve however fast the machine is at the time; a time-based
# warm-up ends earlier on the curve when the machine is slow, and so
# magnifies a slow period. Each workload sets its number of passes
# ("warmup_passes"): claims_etl passes settle after about 5, analytics
# passes after about 6, but an analytics pass takes 5-6 s and the runs
# must stay short, so its measured passes start on the tail of the curve.
# WARMUP_CAP_SECONDS bounds the warm-up on a very slow machine.
WARMUP_CAP_SECONDS = 45
SIG_DIGITS = 12
DRIVER_MEMORY = "4g"

# Why each workload, and what each is sized to: see BENCHMARK.json. Sizes
# are set so that one run, JVM start included, ends in about a minute.
WORKLOADS = {
    "claims_etl": {"kind": "claims", "warmup_passes": 5, "drops": 4, "smallest": 500, "largest": 40_000},
    "analytics": {
        "kind": "queries",
        "warmup_passes": 3,
        "sf": 0.01,
        "queries": (
            "q5_local_supplier_volume",
            "events_sessionize",
            "dedup_components",
            "dedup_simhash",
        ),
    },
}
SMOKE = {"sf": 0.001, "drops": 3, "smallest": 50, "largest": 400}


def log(msg: str) -> None:
    print(f"[{time.monotonic() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def round_doubles(pdf):
    """`pdf` with every float rounded to SIG_DIGITS significant digits."""
    import numpy as np

    def one(v):
        if isinstance(v, (float, np.floating)) and np.isfinite(v) and v != 0.0:
            return float(f"{v:.{SIG_DIGITS - 1}e}")
        if isinstance(v, (list, tuple, np.ndarray)):
            return [one(x) for x in v]
        return v

    return pdf.apply(lambda col: col.map(one)) if len(pdf) else pdf


class Bench:
    def __init__(self, args):
        self.args = args
        self.name = args.workload
        self.cfg = dict(WORKLOADS[self.name], **(SMOKE if args.smoke else {}))
        self.rng = random.Random(args.seed)
        self.work = os.path.join(HERE, ".work", f"{self.name}-{args.seed}-{os.getpid()}")
        self.spark = None
        self.ops: list[tuple[str, object]] = []  # (label, callable returning its check's problems)
        self.rows_per_pass = 0
        self.failed = 0
        self.attempted = 0
        self.tracer = None
        self.tracing = False
        self.records: list = []
        self.last_df: dict = {}
        self.by_label: dict[str, list[float]] = {}
        self.passes = 0

    # -- set-up ------------------------------------------------------------------

    def environment(self) -> None:
        """Keep Spark's and Python's scratch files inside the checkout."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
        # PerfDisableSharedMem: no /tmp/hsperfdata_<user> file for the JVM.
        # -Xms = -Xmx: the heap starts at full size, so the warm-up does not
        # also wait on the heap growing.
        submit = [f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem -Xms{DRIVER_MEMORY}'"]
        if self.args.trace:
            self.event_log = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_log)
            submit += [
                "--conf spark.eventLog.enabled=true",
                "--conf spark.eventLog.compress=false",
                f"--conf spark.eventLog.dir=file://{self.event_log}",
            ]
        else:
            self.event_log = None
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])

    def setup_round(self, k: int) -> float:
        """One set-up: a session (a fresh SparkContext after the first round),
        the workload's inputs, and a warm-up job."""
        from insurance_claim_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench")
        inputs = os.path.join(self.work, f"inputs{k}")
        if self.cfg["kind"] == "claims":
            self.make_claims(inputs)
        else:
            self.make_tables(inputs)
        self.spark.range(1_000_000).selectExpr("sum(id)").collect()
        return time.perf_counter() - t0

    def make_tables(self, out: str) -> None:
        self.data_dir = tables.write_tables(tables.make_tables(self.args.seed, self.cfg["sf"]), out)

    def make_claims(self, out: str) -> None:
        import numpy as np

        rng = np.random.default_rng(self.args.seed)
        sizes = claims.drop_sizes(self.cfg["drops"], self.cfg["smallest"], self.cfg["largest"])
        self.drops = [claims.write_drop(rng, out, i, n) for i, n in enumerate(sizes)]
        self.rows_per_pass = sum(sizes)

    # -- ops -----------------------------------------------------------------------

    def build_ops(self) -> None:
        if self.cfg["kind"] == "claims":
            self.build_claim_ops()
        else:
            self.build_query_ops()

    def build_claim_ops(self) -> None:
        from insurance_claim_data_pipeline_spark.plans import claim_pipeline

        for i, paths in enumerate(self.drops):
            expected = claims.expected_output(paths)
            out = os.path.join(self.work, "sinks", f"drop{i}")
            os.makedirs(out, exist_ok=True)

            def op(paths=paths, expected=expected, out=out):
                result = claim_pipeline.run_pipeline(self.spark, paths, out)
                self.info = {
                    "candidates": len(result.candidates),
                    "scan_rows": result.metrics["total_processed"],
                    "malformed": result.metrics["excluded_by_reason"]["malformed"],
                    "files": len(paths),
                }
                return claims.check_result(result, *expected)

            self.ops.append((f"drop{i}", op))

    def build_query_ops(self) -> None:
        from insurance_claim_data_pipeline_spark import registry
        from insurance_claim_data_pipeline_spark.session import TABLE_NAMES, parquet_num_rows

        self.specs = registry.all_specs()
        rows = {t: parquet_num_rows(self.data_dir, t) for t in TABLE_NAMES}
        for name in self.cfg["queries"]:
            spec = self.specs[name]
            # input rows of an op: the rows of every table its oracle reads
            self.rows_per_pass += sum(rows[t] for t in TABLE_NAMES if re.search(rf"\b{t}\b", spec.oracle))

            def op(spec=spec):
                self.phase("build")
                df = spec.fn(self.spark, self.data_dir)
                self.phase("plan")
                df._jdf.queryExecution().executedPlan()
                self.phase("exec")
                df.write.mode("overwrite").format("noop").save()
                self.phase(None)
                self.last_df[spec.name] = df
                return []

            self.ops.append((name, op))

    def phase(self, phase: str | None) -> None:
        """End the running phase of a query op and start `phase`."""
        now = time.perf_counter()
        if self.current is not None:
            self.phases[self.current] = now - self.phase_start
        self.current, self.phase_start = phase, now
        if self.tracing and phase is not None:
            self.tracer.set_group(f"{self.op_tag}|{phase}")

    def run_op(self, idx: int) -> float | None:
        """Run one op; return its wall time, or None if it failed."""
        label, op = self.ops[idx]
        self.attempted += 1
        self.op_tag = f"{self.name}|{self.passes}.{idx}|{label}"
        self.phases, self.current, self.info = {}, None, None
        if self.tracing:
            self.tracer.set_group(f"{self.op_tag}|run")
        start = time.time()
        t0 = time.perf_counter()
        try:
            problems = op()
        except Exception:  # noqa: BLE001 - a failed op is counted, and the loop goes on
            traceback.print_exc(file=sys.stderr)
            problems = ["raised"]
        wall = time.perf_counter() - t0
        if self.tracing:
            self.tracer.set_group(None)
        if problems:
            self.failed += 1
            print(f"op {label} failed: {problems}", file=sys.stderr)
            return None
        self.by_label.setdefault(label, []).append(wall)
        if self.tracing:
            self.records.append(tracing.OpRecord(label, self.op_tag, start, wall, self.phases, self.info))
        return wall

    def run_pass(self, order: list[int]) -> tuple[float, list[float]]:
        """Run each op once; return (pass wall, op walls). The pass wall is
        the sum of its ops' walls, so the untimed checks between ops are
        left out."""
        self.passes += 1
        walls = [w for w in (self.run_op(i) for i in order) if w is not None]
        return sum(walls), walls

    def shuffled(self) -> list[int]:
        order = list(range(len(self.ops)))
        self.rng.shuffle(order)
        return order

    # -- correctness ---------------------------------------------------------------

    def check_queries(self, ops_per_query: int) -> None:
        """Untimed DuckDB-oracle check of every query on the run's inputs,
        using the frame its last op built. Doubles are compared to
        SIG_DIGITS significant digits: the oracle is a different engine,
        and the last bits of a floating-point aggregate depend on the
        order in which it adds."""
        from tests.oracle_utils import compare_frames, duckdb_conn, oracle_type_problems

        con = duckdb_conn(self.data_dir)
        try:
            for name in self.cfg["queries"]:
                df = self.last_df.get(name)
                if df is None:
                    continue  # every op of it failed, and was counted
                oracle = self.specs[name].oracle
                problems = oracle_type_problems(con, oracle, df.schema, name)
                problems += compare_frames(
                    round_doubles(df.toPandas()), round_doubles(con.execute(oracle).df()), name
                )
                if problems:
                    print(f"oracle check failed: {problems}", file=sys.stderr)
                    self.failed += ops_per_query
        finally:
            con.close()

    # -- main ----------------------------------------------------------------------

    def run(self) -> dict:
        self.environment()
        setups = [self.setup_round(k) for k in range(SETUP_ROUNDS)]
        self.build_ops()
        cold, _ = self.run_pass(self.shuffled())
        log(f"set-up rounds {[round(x, 2) for x in setups]} s; cold pass {cold:.2f} s")
        log("cold ops " + ", ".join(f"{k} {v[0]:.2f}" for k, v in self.by_label.items()))
        warmup = []
        while not self.args.smoke and len(warmup) < self.cfg["warmup_passes"] and sum(warmup) < WARMUP_CAP_SECONDS:
            warmup.append(self.run_pass(self.shuffled())[0])
        log(f"{len(warmup)} warm-up passes {[round(x, 2) for x in warmup]} s")
        self.by_label.clear()
        if self.args.trace:
            return self.run_traced(self.args.seconds)
        passes = []
        while not passes or (sum(passes) < self.args.seconds and not self.args.smoke):
            passes.append(self.run_pass(self.shuffled())[0])
        log(f"{len(passes)} measured passes {[round(x, 2) for x in passes]} s")
        if self.cfg["kind"] == "queries":
            self.check_queries(self.passes)
            log("oracle checks done")
        wall_s = statistics.median(passes)
        ops = sum(map(len, self.by_label.values()))
        print(
            f"{self.name}: {len(passes)} measured passes of {ops // len(passes)} ops, "
            f"{self.rows_per_pass} input rows a pass ({self.rows_per_pass / wall_s if wall_s else 0:.0f} rows/s); "
            "op medians " + ", ".join(f"{k} {statistics.median(v):.3f} s" for k, v in self.by_label.items())
            + f"; cores={nproc()}"
        )
        metrics = {
            "wall_s": (wall_s, "s"),
            "cold_pass_s": (cold, "s"),
            "setup_s": (statistics.median(setups), "s"),
        }
        return self.result_json(metrics)

    def run_traced(self, budget: float) -> dict:
        """Warm passes in pairs, one untraced and one traced in the same op
        order; which of the two runs first alternates from pair to pair."""
        self.tracer = tracing.Tracer(self.spark, self.event_log)
        plain, traced, jobs, spans = [], [], [], []
        while not traced or (sum(plain) + sum(traced) < budget and not self.args.smoke):
            order = self.shuffled()
            for traced_now in (len(plain) % 2 == 1, len(plain) % 2 == 0):
                self.tracing = traced_now
                if traced_now:
                    self.tracer.install()
                    traced.append(self.run_pass(order)[0])
                    self.tracer.uninstall()
                else:
                    plain.append(self.run_pass(order)[0])
            self.tracing = False
            jobs += self.tracer.jobs()
            spans += self.tracer.spans
            self.tracer.reset()
        if self.cfg["kind"] == "queries":
            self.check_queries(self.passes)
        queries = sorted({q for w in WORKLOADS.values() for q in w.get("queries", ())})
        metrics = tracing.per_layer(self.records, jobs, spans, len(traced), nproc(), queries)
        metrics["process.peak_rss_mb"] = (vm_hwm_mb(os.getpid()) + vm_hwm_mb(self.jvm().pid), "MB")
        metrics["trace.wall_s"] = (statistics.median(traced), "s")
        metrics["trace.overhead_s"] = (statistics.median(traced) - statistics.median(plain), "s")
        return self.result_json(metrics)

    def result_json(self, metrics: dict) -> dict:
        return {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def jvm(self):
        from pyspark import SparkContext

        return SparkContext._gateway.proc

    def close(self) -> None:
        """Stop Spark, wait for its JVM to exit, and delete the run's files."""
        if self.spark is not None:
            proc = self.jvm()
            self.spark.stop()
            from pyspark import SparkContext

            SparkContext._gateway.shutdown()
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "insurance_claim_data_pipeline_spark")):
        print("run from a checkout of the engine: its package is missing", file=sys.stderr)
        return 2
    bench = Bench(args)
    try:
        result = bench.run()
    finally:
        bench.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
