"""Benchmark of the WordCount CLI and of registry queries, one workload per process.

Run from the repository root:

    python3 perfbench/run.py --workload wordcount_zipf --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see README.md in this directory for both lists).

The load is a closed loop with one client: one driver thread issues ops
back to back. The first op of a run is timed apart as ``warmup_s``, the
next one runs untimed, and timed ops follow until ``--seconds`` of wall
time have passed. Every op's output is checked outside the timed region,
and a wrong output or an exception counts as a failed op.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import importlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CACHE = os.path.join(WORK, "cache")
sys.path[:0] = [ROOT, HERE]

import eventlog  # noqa: E402
import gen_corpus  # noqa: E402
import gen_tables  # noqa: E402

# local[k]: never more task slots than the host has cores.
CORES = min(4, len(os.sched_getaffinity(0)))
SETUP_SAMPLES = 3
# Ops after the warm-up that run and are checked but not timed: the JIT is
# still compiling hot paths, and the first warm op is reliably the slowest.
SETTLE_OPS = 1

ZIPF_MB, ZIPF_FILES = 16, 2 * CORES
TABLES_SF = 0.01
# One query op is a pass over these queries, in an order drawn from the
# seed. Each maps to the module that registers it, which is also the layer
# its build/exec time is summed under; fixed so metric names stay stable.
QUERY_LAYERS = {
    # driver-bound: construction runs two eager checkpoint jobs
    "collocations_pmi": "operators.text_analysis",
    # executor-bound: the final action dominates
    "winnowing_fingerprint": "operators.text_analysis",
    # executor-bound, through the Arrow/pandas Python-worker path
    "cogroup_merge_asof": "operators.pandas_ops",
}
QUERY_LIST = list(QUERY_LAYERS)
WORKLOADS = ("wordcount_zipf", "queries")

END_TO_END = {
    "setup_s": "s",
    "warmup_s": "s",
    "op_p50_s": "s",
    "ops_per_min": "1/min",
    "input_mb_per_s": "MB/s",
}


def per_layer_units() -> dict[str, str]:
    units = {
        "session.start_s": "s",
        "process.peak_rss_mb": "MB",
        "trace.op_p50_s": "s",
        "driver.nonjob_s": "s",
        "spark.jobs": "count",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.shuffle_write_mb": "MB",
        "spark.task_wait_s": "s",
        "spark.gc_s": "s",
        "spark.spill_mb": "MB",
        "operators.wordcount.map_stage_s": "s",
        "operators.wordcount.map_cpu_s": "s",
        "operators.wordcount.combine_ratio": "ratio",
        "operators.wordcount.sort_sample_s": "s",
        "operators.wordcount.reduce_stage_s": "s",
        "cli.write_stage_s": "s",
        "cli.output_mb": "MB",
        "pandas_ops.python_total_s": "s",
        "pandas_ops.python_boot_s": "s",
        "pandas_ops.python_rows": "count",
    }
    for q in QUERY_LIST:
        units.update({f"q.{q}.build_s": "s", f"q.{q}.exec_s": "s", f"q.{q}.build_jobs": "count"})
    for mod in sorted(set(QUERY_LAYERS.values())):
        units.update({f"{mod}.build_s": "s", f"{mod}.build_self_s": "s", f"{mod}.exec_s": "s"})
    return units


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_conf(trace_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    }
    if trace_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + trace_dir,
            }
        )
    return conf


def start_session(trace_dir: str | None = None):
    """Return (session, seconds for ``get_spark`` to return it)."""
    from hadoop_wordcount_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf=spark_conf(trace_dir),
    )
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def peak_rss_mb(spark) -> float:
    """High-water RSS (VmHWM) of this process plus its JVM child, in MB."""
    total_kb = 0
    for pid in ("self", str(spark.sparkContext._gateway.proc.pid)):
        with open(f"/proc/{pid}/status") as fh:
            total_kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return total_kb / 1024.0


def setup_probe() -> None:
    """Child mode: time one session start from a fresh interpreter and JVM."""
    spark, secs = start_session()
    stop_session(spark)
    print(json.dumps({"setup_s": secs}))


def timed_setups(n: int) -> list[float]:
    out = []
    for _ in range(n):
        res = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--setup-probe"],
            capture_output=True, text=True, timeout=170, check=True,
        )
        out.append(json.loads(res.stdout.strip().splitlines()[-1])["setup_s"])
    return out


# ---------------------------------------------------------------- workloads


class WordCountZipf:
    """``cli.run`` over a seeded Zipf corpus; output checked against exact counts."""

    def __init__(self, seed: int) -> None:
        self.dir = gen_corpus.corpus_dir(CACHE, seed, ZIPF_MB, ZIPF_FILES)
        self.files = sorted(glob.glob(os.path.join(self.dir, "part-*.txt")))
        with open(os.path.join(self.dir, "expected.tsv"), "rb") as fh:
            self.expected = fh.read()
        self.tokens = sum(int(line.rsplit(b"\t", 1)[1]) for line in self.expected.splitlines())
        self.input_mb = sum(os.path.getsize(f) for f in self.files) / 2**20
        self.out = os.path.join(WORK, "wc-out")

    def prepare(self, spark) -> None:
        from hadoop_wordcount_spark import cli

        self.spark, self.run_cli = spark, cli.run

    def op(self, i: int, tracer) -> tuple[float, object]:
        shutil.rmtree(self.out, ignore_errors=True)
        tracer.begin(i, "cli")
        t0 = time.perf_counter()
        self.run_cli(self.spark, self.files, self.out)
        dt = time.perf_counter() - t0
        tracer.end()
        return dt, None

    def check(self, _result) -> str | None:
        names = [n for n in os.listdir(self.out) if not n.startswith(("_", "."))]
        if len(names) != 1:
            return f"expected one output file, found {names}"
        with open(os.path.join(self.out, names[0]), "rb") as fh:
            if fh.read() != self.expected:
                return "output differs from the generator's exact counts"
        return None


def _norm_cell(v):
    """Cell normalization of tests/oracle_utils.py, kept here so the
    benchmark does not move when the tests are reorganized."""
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "<nan>" if math.isnan(v) else repr(round(v, 6))
    if isinstance(v, bool):
        return repr(v)
    if hasattr(v, "item"):
        return _norm_cell(v.item())
    return repr(v)


def normalize(pdf) -> list:
    cols = sorted(pdf.columns)
    rows = sorted(tuple(_norm_cell(row[c]) for c in cols) for _, row in pdf[cols].iterrows())
    return [cols, rows]


class Queries:
    """Passes over QUERY_LIST; each result checked against its DuckDB oracle."""

    def __init__(self, seed: int) -> None:
        self.dir = gen_tables.tables_dir(CACHE, seed, TABLES_SF)
        self.input_mb = sum(
            os.path.getsize(f) for f in glob.glob(os.path.join(self.dir, "*.parquet"))
        ) / 2**20
        self.rng = random.Random(seed)
        self.passes: dict[int, list] = {}  # op -> [(query, t0_ms, t1_ms, t2_ms)]
        for mod in set(QUERY_LAYERS.values()):
            importlib.import_module(f"hadoop_wordcount_spark.{mod}")
        from hadoop_wordcount_spark.operators.similarity import reset_ivf_memo
        from hadoop_wordcount_spark.registry import ORACLES, QUERIES

        self.reset_memo = reset_ivf_memo
        self.fns = {q: QUERIES[q] for q in QUERY_LIST}
        self.want = {q: self._oracle(ORACLES[q]) for q in QUERY_LIST}

    def _oracle(self, sql: str) -> list:
        """Normalized oracle result, cached by oracle-SQL digest and input directory."""
        import duckdb

        from hadoop_wordcount_spark.sources.tables import TABLES

        key = hashlib.sha256(f"{sql}\0{os.path.realpath(self.dir)}".encode()).hexdigest()
        path = os.path.join(CACHE, "oracle", key + ".json")
        if not os.path.exists(path):
            con = duckdb.connect()
            try:
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')")
                result = normalize(con.execute(sql).fetchdf())
            finally:
                con.close()
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path + ".tmp", "w") as fh:
                json.dump(result, fh)
            os.replace(path + ".tmp", path)
        with open(path) as fh:
            cols, rows = json.load(fh)
        return [cols, [tuple(r) for r in rows]]

    def prepare(self, spark) -> None:
        self.spark = spark

    def op(self, i: int, tracer) -> tuple[float, object]:
        order = self.rng.sample(QUERY_LIST, len(QUERY_LIST))
        total, results, spans = 0.0, {}, []
        for q in order:
            self.spark.catalog.clearCache()
            self.reset_memo()
            tracer.begin(i, q)
            t0 = time.perf_counter()
            e0 = time.time() * 1000
            df = self.fns[q](self.spark, self.dir)
            e1 = time.time() * 1000
            results[q] = df.toPandas()
            e2 = time.time() * 1000
            total += time.perf_counter() - t0
            tracer.end()
            spans.append((q, e0, e1, e2))
        self.passes[i] = spans
        return total, results

    def check(self, results) -> str | None:
        bad = [q for q in QUERY_LIST if normalize(results[q]) != self.want[q]]
        return f"results differ from the DuckDB oracle: {bad}" if bad else None


# ----------------------------------------------------------------- tracing


class Tracer:
    """Op spans in epoch ms, plus the job group ``<workload>:<op>:<query>``."""

    def __init__(self, workload: str, spark, enabled: bool) -> None:
        self.workload, self.spark, self.enabled = workload, spark, enabled
        self.ops: list[tuple[int, float, float]] = []  # (op, start_ms, end_ms)
        self._op = self._start = None

    def begin(self, op: int, what: str) -> None:
        if not self.enabled:
            return
        if self._op != op:
            self._op, self._start = op, time.time() * 1000
        group = f"{self.workload}:{op}:{what}"
        self.spark.sparkContext.setJobGroup(group, group)

    def end(self) -> None:
        if self.enabled:
            if self.ops and self.ops[-1][0] == self._op:
                self.ops.pop()
            self.ops.append((self._op, self._start, time.time() * 1000))


def layer_metrics(log_paths: list[str], tracer: Tracer, wl, timed_ops: set[int]) -> dict[str, float]:
    ev = eventlog.EventLog(log_paths)
    per_op = []
    for op, s, e in tracer.ops:
        if op not in timed_ops:
            continue
        jobs = ev.jobs_in(s, e)
        stages = ev.stages_of(jobs)
        rec = eventlog.spark_totals(stages)
        rec["spark.jobs"] = float(len(jobs))
        rec["driver.nonjob_s"] = eventlog.uncovered_s(s, e, jobs)
        if isinstance(wl, WordCountZipf):
            rec.update(eventlog.wordcount_stages(stages, wl.tokens))
        per_op.append(rec)
    out = eventlog.median_of(per_op)
    if isinstance(wl, Queries):
        per_query = []
        for op, spans in wl.passes.items():
            if op not in timed_ops:
                continue
            rec = {}
            for q, e0, e1, e2 in spans:
                build_jobs = ev.jobs_in(e0, e1)
                rec[f"q.{q}.build_s"] = (e1 - e0) / 1000
                rec[f"q.{q}.exec_s"] = (e2 - e1) / 1000
                rec[f"q.{q}.build_jobs"] = float(len(build_jobs))
                rec[f"q.{q}.build_self_s"] = eventlog.uncovered_s(e0, e1, build_jobs)
            per_query.append(rec)
        med = eventlog.median_of(per_query)
        for q, mod in QUERY_LAYERS.items():
            for part in ("build_s", "exec_s", "build_self_s"):
                out[f"{mod}.{part}"] = out.get(f"{mod}.{part}", 0.0) + med[f"q.{q}.{part}"]
        out.update({k: v for k, v in med.items() if not k.endswith("build_self_s")})
    return out


# -------------------------------------------------------------------- main


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # Python workers import the package too; the working directory moves.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.chdir(WORK)  # spark-warehouse, derby.log and the like land here

    # Inputs first: generation and oracle results are outside setup_s.
    wl = WordCountZipf(seed) if workload == "wordcount_zipf" else Queries(seed)

    trace_dir = None
    if trace:
        trace_dir = os.path.join(WORK, f"eventlog-{os.getpid()}")
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
    setups = [] if trace else timed_setups(SETUP_SAMPLES - 1)
    spark, secs = start_session(trace_dir)
    setups.append(secs)
    wl.prepare(spark)
    tracer = Tracer(workload, spark, trace)

    attempted = failed = 0
    times: list[float] = []
    timed_ops: set[int] = set()
    warmup_s = loop_start = None
    i = 0
    try:
        # op 0 is the warm-up, then SETTLE_OPS untimed ops, then at least one timed op
        while i <= SETTLE_OPS + 1 or time.perf_counter() - loop_start < seconds:
            attempted += 1
            try:
                dt, result = wl.op(i, tracer)
                err = wl.check(result)
            except Exception as exc:  # a raising op is a failed op; keep measuring
                dt, err = None, f"{type(exc).__name__}: {exc}"
            if err:
                failed += 1
                log(f"op {i} failed: {err}")
            if i == 0:
                warmup_s = dt
            if i == SETTLE_OPS:
                loop_start = time.perf_counter()
            if i > SETTLE_OPS and not err:
                times.append(dt)
                timed_ops.add(i)
            i += 1
        rss = peak_rss_mb(spark)
    finally:
        stop_session(spark)

    if warmup_s is None or not times:
        return {"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}
    p50 = statistics.median(times)
    log(
        f"{workload} seed={seed} local[{CORES}] ops={len(times)} op_p50_s={p50:.4f} "
        f"warmup_s={warmup_s:.3f} setups={[round(s, 3) for s in setups]} "
        f"ops={[round(t, 3) for t in times]}"
    )
    if trace:
        metrics = {k: 0.0 for k in per_layer_units()}
        metrics.update(layer_metrics(eventlog.find_event_log(trace_dir), tracer, wl, timed_ops))
        metrics["session.start_s"] = setups[0]
        metrics["process.peak_rss_mb"] = rss
        metrics["trace.op_p50_s"] = p50
        units = per_layer_units()
        metrics = {k: metrics[k] for k in units}
    else:
        units = END_TO_END
        metrics = {
            "setup_s": statistics.median(setups),
            "warmup_s": warmup_s,
            "op_p50_s": p50,
            "ops_per_min": 60.0 * len(times) / sum(times),
            "input_mb_per_s": wl.input_mb / p50,
        }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hadoop_wordcount_spark", "session.py")):
        log(f"no hadoop_wordcount_spark package under {ROOT}; run from the repository root")
        return 2
    if args.setup_probe:
        setup_probe()
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
