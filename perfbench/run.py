"""Layered benchmark of fugue_spark on one machine.

Usage, from the root of a source checkout::

    python3 perfbench/run.py --workload small-sf0.1 --seed 1 --seconds 10 --trace 0

One run is one fresh Python process with one ``local[nproc]`` Spark
session. It

1. generates the workload's inputs for ``--seed`` under ``.data/perfbench``
   (reused when the same seed runs again; never timed);
2. sets up: ``get_spark`` + ``tune_for_input`` + ``warm_cache``;
3. after a full GC, runs one cold pass over the workload's queries in their
   listed order (the first pass a one-shot job pays: JIT, codegen,
   Python-worker spawn);
4. checks every query's collected result against its DuckDB oracle, which
   also warms each plan a second time;
5. runs ``--seconds`` / 5 warm passes (at least 2), about ``--seconds``
   of query time on a 4-core box. Each query is split into build (its
   ``spark_fn`` call), plan (forcing ``executedPlan``) and exec (a write
   to the noop sink);
6. stops the session and sets up twice more, so ``setup_s`` is a median.

Every query and set-up records its wall time and the CPU seconds of the
process tree. The seed fixes the row order of every input file and the
query order of every warm pass. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics, which are CPU seconds; ``--trace 1`` turns
on Spark's event log, one job group per query and phase, timed wrappers
around the layer modules' public functions, a py4j call counter and an RSS
sampler, and reports per-layer metrics instead. The full record of a run,
per-query rows included, is written to ``.bench_work/results/``. See
``perfbench/README.md`` for the metric definitions and the layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
from dataclasses import dataclass
from statistics import median

from probes import tree_cpu_s

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
DATA = os.path.join(ROOT, ".data", "perfbench")
SETUPS = 3
# A warm pass of either workload takes about this long on a 4-core box.
# ``--seconds`` buys a fixed number of passes, not a time budget, so both
# commits of a comparison run the same passes: warm passes keep getting
# faster, and a faster commit that fitted one more pass into a time budget
# would read faster still.
PASS_S = 5.0
MIN_PASSES = 2


def pass_count(seconds: float) -> int:
    return max(MIN_PASSES, round(seconds / PASS_S))


@dataclass(frozen=True)
class Workload:
    scale: str
    tables: tuple[str, ...]
    queries: tuple[str, ...]


WORKLOADS = {
    # driver-side build is a large share of the wall: FugueSQL scripts,
    # trace-compiled and pandas transforms, py4j-built minhash columns
    "small-sf0.1": Workload(
        scale="sf0.1",
        tables=("lineitem", "orders", "documents"),
        queries=(
            "q13_fuguesql_script",
            "q24_fuguesql_compiled",
            "q22_transform_compiled",
            "q23_cotransform_compiled",
            "p5_ngram_jaccard_pairs",
            "p6_minhash_lsh_pairs",
        ),
    ),
    # execution-bound: native multi-row-group scans with AQE on, shuffle
    # joins, a window top-k and a parquet write. The compiled transform
    # (q22) runs in small-sf0.1 only: here it cost a fifth of the run time
    # that the fixed benchmark budget allows.
    "relational-sf0.5": Workload(
        scale="sf0.5",
        tables=("region", "nation", "customer", "orders", "lineitem"),
        queries=(
            "q1_pricing_summary",
            "q3_join_revenue_by_nation",
            "q6_topk_per_customer",
            "q9_io_roundtrip",
        ),
    ),
}


def box() -> dict:
    """Resources of this machine: cores this process may use and a driver
    heap sized from available memory."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        meminfo = {line.split(":")[0]: int(line.split()[1]) for line in f}
    avail_gb = meminfo.get("MemAvailable", meminfo["MemTotal"]) / 2**20
    heap_gb = max(1, min(6, int(avail_gb * 0.3)))
    return {"cores": cores, "heap": f"{heap_gb}g", "mem_available_gb": round(avail_gb, 1)}


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.name = workload
        self.workload = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.box = box()
        self.rng = random.Random(seed)
        self.spark = None
        self.setups: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.run_id = f"{workload}-seed{seed}-trace{int(trace)}"
        self.eventlog_dir = os.path.join(WORK, "eventlog", self.run_id)
        if trace:
            from probes import LayerTimer, Py4jCounter

            self.layers = LayerTimer()
            self.layers.install()
            self.py4j = Py4jCounter()
            self.py4j.install()
        from fugue_spark.benchmarks import QUERIES

        self.specs = {q: QUERIES[q] for q in self.workload.queries}

    # -- session -------------------------------------------------------
    def setup(self, data: str) -> None:
        from fugue_spark.benchmarks import warm_cache
        from fugue_spark.session import get_spark, tune_for_input

        n = self.box["cores"]
        conf = {
            "spark__driver__memory": self.box["heap"],
            # the whole heap up front: no heap growth pauses while timing
            "spark__driver__extraJavaOptions": f"-Xms{self.box['heap']} -Djava.io.tmpdir={WORK}/tmp",
            "spark__local__dir": f"{WORK}/local",
            "spark__sql__warehouse__dir": f"{WORK}/warehouse",
            "spark__ui__enabled": "false",
            "spark__ui__showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update(
                spark__eventLog__enabled="true",
                spark__eventLog__dir=self.eventlog_dir,
                spark__eventLog__compress="false",
            )
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.name}", master=f"local[{n}]", shuffle_partitions=n, **conf
        )
        t1 = time.perf_counter()
        tune_for_input(self.spark, data)
        t2 = time.perf_counter()
        warm_cache(self.spark, data)
        t3 = time.perf_counter()
        self.setups.append(
            {
                "start_s": t1 - t0,
                "tune_s": t2 - t1,
                "warm_cache_s": t3 - t2,
                "wall_s": t3 - t0,
                "cpu_s": tree_cpu_s(os.getpid()) - cpu0,
            }
        )

    def teardown(self) -> None:
        from fugue_spark.benchmarks import release_cache

        release_cache()
        self.spark.stop()
        self.spark = None

    def shutdown_jvm(self) -> None:
        """Stop the JVM this process launched and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
                proc.kill()
                proc.wait(timeout=30)

    # -- queries -------------------------------------------------------
    def _group(self, label: str) -> None:
        self.spark.sparkContext.setJobGroup(label, label)

    def run_query(self, name: str, data: str, label: str) -> "dict | None":
        """Build, plan and execute one query; None when it raised."""
        spec = self.specs[name]
        tracing = self.trace and label.startswith("traced")
        row: dict = {"query": name}
        self.attempted += 1
        cpu0 = tree_cpu_s(os.getpid())
        try:
            if tracing:
                self.layers.reset()
                self._group(f"{label}|{name}|build")
                calls0 = self.py4j.count
            t0 = time.perf_counter()
            df = spec.spark_fn(self.spark, data)
            t1 = time.perf_counter()
            if tracing:
                row["py4j_calls"] = self.py4j.count - calls0
                row["layers"] = dict(self.layers.seconds)
                row["layer_calls"] = dict(self.layers.calls)
                self._group(f"{label}|{name}|plan")
            t1b = time.perf_counter()
            plan = df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            if tracing:
                from probes import python_udf_nodes

                row["python_udf_nodes"] = python_udf_nodes(plan.toString())
                self._group(f"{label}|{name}|exec")
            t2b = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        except Exception as ex:  # noqa: BLE001 - a failing query is counted, not fatal
            self.failed += 1
            self.errors.append(f"{label} {name}: {type(ex).__name__}: {ex}"[:500])
            return None
        cpu_s = tree_cpu_s(os.getpid()) - cpu0
        row.update(build_s=t1 - t0, plan_s=t2 - t1b, exec_s=t3 - t2b, cpu_s=cpu_s)
        row["wall_s"] = row["build_s"] + row["plan_s"] + row["exec_s"]
        return row

    def run_pass(self, data: str, label: str, seeded: bool = True) -> list[dict]:
        """One pass over the workload's queries: in the seed's order, or in
        the listed order, which keeps the cold pass's warm-up path the same
        on every seed."""
        order = self.workload.queries
        if seeded:
            order = self.rng.sample(order, len(order))
        rows = [self.run_query(q, data, label) for q in order]
        return [r for r in rows if r is not None]

    def timed_passes(self, data: str, label: str) -> list[list[dict]]:
        return [self.run_pass(data, f"{label}#{i}") for i in range(pass_count(self.seconds))]

    def check(self, data: str) -> list[dict]:
        """Collect each query and compare it with its DuckDB oracle as the
        multiset of rows over name-sorted columns, which is what equality
        of ``fugue_spark.testing.normalize`` tests. The comparison runs in
        DuckDB because ``normalize`` sorts Python tuples, which takes
        tens of seconds on the per-order results at sf1."""
        from fugue_spark.testing import duckdb_connect

        self._group("check")
        out = []
        for name in self.workload.queries:
            spec = self.specs[name]
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                got = spec.spark_fn(self.spark, data).toPandas()
                status, rows = "no_oracle", len(got)
                if spec.oracle is not None:
                    status = _compare(duckdb_connect(data), self.box["cores"], got, spec.oracle)
            except Exception as ex:  # noqa: BLE001 - recorded as a failure
                status, rows = f"error: {type(ex).__name__}: {ex}"[:500], None
            if status not in ("match", "no_oracle"):
                self.failed += 1
                self.errors.append(f"check {name}: {status}")
            out.append(
                {"query": name, "status": status, "rows": rows, "seconds": time.perf_counter() - t0}
            )
        return out


def _compare(con, threads: int, got, oracle: str) -> str:
    """'match' when ``got`` and the oracle's result hold the same columns
    and the same rows with the same multiplicities (NaN counts as NULL)."""
    try:
        con.execute(f"SET threads TO {threads}")
        con.execute(f"CREATE TEMP TABLE want AS {oracle}")
        types = {r[0]: r[1] for r in con.execute("DESCRIBE want").fetchall()}
        if sorted(types) != sorted(got.columns):
            return f"mismatch: columns {sorted(got.columns)} vs {sorted(types)}"
        con.register("got_df", got)
        cols = ", ".join(
            f'CASE WHEN isnan("{c}") THEN NULL ELSE "{c}" END'
            if types[c] in ("DOUBLE", "FLOAT")
            else f'"{c}"'
            for c in sorted(types)
        )
        extra, missing, n_got, n_want = con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM got_df EXCEPT ALL SELECT {cols} FROM want)),"
            f" (SELECT count(*) FROM (SELECT {cols} FROM want EXCEPT ALL SELECT {cols} FROM got_df)),"
            " (SELECT count(*) FROM got_df), (SELECT count(*) FROM want)"
        ).fetchone()
        if extra or missing:
            return f"mismatch: {n_got} rows vs {n_want}; {extra} unexpected, {missing} missing"
        return "match"
    finally:
        con.close()


def _med(values) -> float:
    values = list(values)
    return float(median(values)) if values else 0.0


def pass_walls(passes: list[list[dict]]) -> list[float]:
    return [sum(r["wall_s"] for r in rows) for rows in passes if rows]


def query_medians(passes: list[list[dict]], key: str = "wall_s") -> dict[str, float]:
    """Each query's median ``key`` over ``passes``. A single slow pass
    moves these far less than it moves the median of pass totals when a
    run holds only a few passes."""
    per_query: dict[str, list[float]] = {}
    for rows in passes:
        for r in rows:
            per_query.setdefault(r["query"], []).append(r[key])
    return {q: _med(v) for q, v in per_query.items()}


def pass_wall(passes: list[list[dict]]) -> float:
    """One warm pass: the sum of the per-query medians."""
    return sum(query_medians(passes).values())


def end_to_end_metrics(cold: list[dict], setups: list[dict]) -> dict:
    """The gated metrics, in CPU seconds of the process tree: the cold pass
    and a set-up. Wall time is not gated: on a shared host the time other
    guests take from this one (steal) moves it by more than any allowed
    bound, and CPU time leaves steal out. Warm passes are not gated either:
    the JVM is still compiling hot code in them, and how much of that lands
    in a pass varies from run to run."""
    return {
        "cold_cpu_s": sum(r["cpu_s"] for r in cold),
        "setup_s": _med(s["cpu_s"] for s in setups),
    }


def warm_metrics(passes: list[list[dict]], cold: list[dict], setups: list[dict]) -> dict:
    """What a user waits for, and the CPU of a warm pass. Reported, never
    gated."""
    return {
        "warm.cpu_s": sum(query_medians(passes, "cpu_s").values()),
        "warm.wall_s": pass_wall(passes),
        "warm.query_p50_s": _med(r["wall_s"] for rows in passes for r in rows),
        "cold.wall_s": sum(r["wall_s"] for r in cold),
        "setup.wall_s": _med(s["wall_s"] for s in setups),
    }


def layer_metrics(b: Bench, traced: list[list[dict]], untraced: list[list[dict]], cold: list[dict]) -> dict:
    from eventlog import GroupMetrics, parse_dir

    groups = parse_dir(b.eventlog_dir)
    per_pass: list[dict] = []
    for i, rows in enumerate(traced):
        label = f"traced#{i}"
        build, exec_ = GroupMetrics(), GroupMetrics()
        for r in rows:
            build.add(groups.get(f"{label}|{r['query']}|build", GroupMetrics()))
            exec_.add(groups.get(f"{label}|{r['query']}|exec", GroupMetrics()))
            r["events"] = {
                phase: groups[f"{label}|{r['query']}|{phase}"].summary()
                for phase in ("build", "plan", "exec")
                if f"{label}|{r['query']}|{phase}" in groups
            }
        exec_s = sum(r["exec_s"] for r in rows)
        calls = sum(r["layer_calls"].get("transform", 0) + r["layer_calls"].get("cotransform", 0) for r in rows)
        compiled = sum(
            max(0, r["layer_calls"].get("transform", 0) + r["layer_calls"].get("cotransform", 0) - r["python_udf_nodes"])
            for r in rows
        )
        m = {
            "build.s": sum(r["build_s"] for r in rows),
            "build.jobs": build.jobs,
            "build.py4j_calls": sum(r["py4j_calls"] for r in rows),
            "plan.s": sum(r["plan_s"] for r in rows),
            "exec.s": exec_s,
            "exec.jobs": exec_.jobs,
            "exec.stages": exec_.stages,
            "exec.tasks": exec_.tasks,
            "exec.task_s": exec_.task_s,
            "exec.cpu_s": exec_.cpu_s,
            "exec.gc_s": exec_.gc_s,
            "exec.core_util": exec_.task_s / (exec_s * b.box["cores"]) if exec_s else 0.0,
            "exec.shuffle_read_mb": exec_.shuffle_read_mb,
            "exec.shuffle_write_mb": exec_.shuffle_write_mb,
            "exec.spill_mb": exec_.spill_mb,
            "exec.input_mb": exec_.input_mb,
            "exec.input_rows": exec_.input_rows,
            "exec.output_mb": exec_.output_mb,
            "exec.task_skew": exec_.task_skew,
            "exec.peak_exec_mb": exec_.peak_exec_mb,
            "compile.python_udf_nodes": sum(r["python_udf_nodes"] for r in rows),
            "compile.compiled_share": compiled / calls if calls else 1.0,
        }
        for layer in ("api", "transform", "cotransform", "sql", "pipeline"):
            m[f"{layer}.s"] = sum(r["layers"].get(layer, 0.0) for r in rows)
        per_pass.append(m)
    out = {k: _med(p[k] for p in per_pass) for k in per_pass[0]}
    out["session.start_s"] = _med(s["start_s"] for s in b.setups)
    out["session.tune_s"] = _med(s["tune_s"] for s in b.setups)
    out["benchmarks.warm_cache_s"] = _med(s["warm_cache_s"] for s in b.setups)
    out["cold.build_s"] = sum(r["build_s"] for r in cold)
    out["cold.exec_s"] = sum(r["exec_s"] for r in cold)
    traced_wall, untraced_wall = pass_wall(traced), pass_wall(untraced)
    out["trace.wall_s"] = traced_wall
    out["trace.overhead_s"] = traced_wall - untraced_wall
    out.update(warm_metrics(untraced, cold, b.setups))
    return out


UNITS = {
    "s": "s", "jobs": "count", "stages": "count", "tasks": "count", "py4j_calls": "count",
    "python_udf_nodes": "count", "compiled_share": "share", "core_util": "share",
    "task_skew": "ratio", "mb": "MB",
}


def cpu_ticks() -> "list[int]":
    """The machine's cumulative CPU time per state (user, nice, system,
    idle, iowait, irq, softirq, steal, ...) from the first line of
    ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_share(start: "list[int]", end: "list[int]") -> float:
    """Share of the machine's CPU time between two ``cpu_ticks`` readings
    that the hypervisor gave to other guests. Like the load average it
    marks a noisy window and gates nothing."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / sum(delta) if len(delta) > 7 and sum(delta) else 0.0


def unit_of(name: str) -> str:
    tail = name.split(".")[-1]
    if tail in UNITS:
        return UNITS[tail]
    return UNITS.get(tail.rsplit("_", 1)[-1], "count")


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still goes through the ``finally`` that stops the JVM
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    if not os.path.isfile(os.path.join(ROOT, "fugue_spark", "benchmarks.py")):
        print("perfbench: run from the root of a fugue_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    # every file Spark, Python and DuckDB write goes under the checkout
    for sub in ("tmp", "local", "results"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")

    load_start, ticks_start = os.getloadavg()[0], cpu_ticks()
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    shutil.rmtree(b.eventlog_dir, ignore_errors=True)
    from datagen import materialize

    t0 = time.perf_counter()
    data = materialize(DATA, args.workload, b.workload.scale, args.seed, b.workload.tables)
    gen_s = time.perf_counter() - t0

    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "box": b.box}
    rss = None
    if b.trace:
        from probes import RssSampler

        rss = RssSampler().__enter__()
    phases: dict[str, float] = {}
    clock = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        phases[name] = now - clock
        clock = now

    try:
        b.setup(data)
        phase("setup")
        # every run's cold pass starts from a collected heap, not from
        # whatever garbage caching the inputs left
        b.spark.sparkContext._jvm.System.gc()
        b._group("cold")
        cold = b.run_pass(data, "cold", seeded=False)
        phase("cold")
        # the check doubles as a second warm-up pass: each query's plan runs
        # again before timing starts, collecting instead of writing
        checks = b.check(data)
        b.spark.sparkContext._jvm.System.gc()
        phase("check")
        if b.trace:
            b.layers.active = True
            traced = b.timed_passes(data, "traced")
            b.layers.active = False
            phase("traced")
            b._group("untraced")
            untraced = b.timed_passes(data, "untraced")
        else:
            traced, untraced = [], b.timed_passes(data, "timed")
        phase("timed")
        for _ in range(SETUPS - 1):
            b.teardown()
            b.setup(data)
        b.teardown()
        phase("resetup")
    finally:
        if rss is not None:
            rss.__exit__(None, None, None)
        b.shutdown_jvm()

    walls = pass_walls(untraced)
    samples = [r["wall_s"] for rows in untraced for r in rows]
    if b.trace:
        metrics = layer_metrics(b, traced, untraced, cold)
        metrics["proc.peak_rss_mb"] = rss.peak_kb / 1024
    else:
        metrics = end_to_end_metrics(cold, b.setups)
    warm = warm_metrics(untraced, cold, b.setups)
    record.update(
        gen_s=gen_s,
        phases=phases,
        data=os.path.relpath(data, ROOT),
        load_avg_1m={"start": load_start, "end": os.getloadavg()[0]},
        cpu_steal_share=steal_share(ticks_start, cpu_ticks()),
        setups=b.setups,
        passes=len(untraced),
        query_samples=len(samples),
        warm=warm,
        pass_walls=walls,
        cold=cold,
        timed=untraced,
        traced=traced,
        checks=checks,
        errors=b.errors,
        fail_share=b.failed / max(1, b.attempted),
        metrics=metrics,
    )
    with open(os.path.join(WORK, "results", f"{b.run_id}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(
        f"# {args.workload} seed={args.seed}: fail_share={record['fail_share']:.3f} "
        f"({b.failed}/{b.attempted}) passes={len(untraced)} "
        f"load_1m={load_start:.2f}->{record['load_avg_1m']['end']:.2f} "
        f"steal={record['cpu_steal_share']:.3f} "
        + " ".join(f"{k}={v:.4g} {unit_of(k)}" for k, v in {**warm, **metrics}.items()),
        file=sys.stderr,
    )
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
