#!/usr/bin/env python3
"""The engine's benchmark, run from the root of a checkout:

    python3 perfbench/run.py --workload olap_sf0.01 --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --recompute-oracle

Workloads (why each was chosen, and which metric each layer should
move: perfbench/NOTES.md):

* ``olap_sf0.01`` - the 15 ``star_q*`` BI queries over a star warehouse
  built during set-up, size-gated rows running their single-task kernels,
  and three of those rows again with every gate forced closed
  (``tools/bench_distributed.disable_kernels``), so they run their
  distributed plans;
* ``ingest_stream`` - seed-generated enriched records loaded one file per
  micro-batch by ``IncrementalStarLoader.run_available``.

One client thread runs a closed loop: each operation starts when the
previous one returned. ``olap_sf0.01`` runs one untimed warm-up pass,
then whole timed passes until ``--seconds`` have passed, each pass in an
order shuffled by ``--seed``. ``ingest_stream`` loads one stream of
``STREAM_FILES`` files generated from ``--seed``. Every query result is
checked against the digest of its DuckDB oracle (``oracle.json``); the
loaded star schema is checked against a pure-Python reference over the
generated records.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is the full report: every end-to-end metric under the names NOTES.md
uses, sample counts, the percentile taken as the tail, the failure base
and, when traced, self time per layer and where the spans were written.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
from pathlib import Path

PKG = "ut_data_engineering_group_project_2022_spark"
ROOT = Path.cwd()
WORK = ROOT / ".bench_build" / "perfbench"
#: The sf0.01 test tables (60 000 lineitems), read in place.
DATA_DIR = Path(__file__).resolve().parent / "data" / "sf0.01"
STREAM_FILES = 4
STAR_DIMS = ("dim_domain", "dim_type", "dim_venue", "dim_author", "dim_affiliation")

#: Size-gated rows of ``tools/bench_distributed.GATED_ROWS`` that olap
#: runs twice per pass: as shipped (single-task kernel) and with every
#: gate forced closed (distributed plan). One each from the relational,
#: BI-rank and vector families; more do not fit the run budget.
GATED = (
    "tpch_q1_pricing_summary",
    "bi_rank_customers_by_revenue",
    "llm_knn_bruteforce",
)

#: Gated rows olap runs only as kernels: their distributed plans do not
#: fit the run budget (graph_louvain's 67 jobs take 12-22 s cold and 6 s
#: warm on 4 cores).
OLAP_ONLY = ("graph_louvain", "llm_minhash_lsh")

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms", "pass_s": "s"}
PER_LAYER = {
    "session.start_s": "s", "catalog.calls": "count", "catalog.ms": "ms",
    "catalog.jobs": "count", "plans.build_ms": "ms", "plans.build_jobs": "count",
    "plans.action_ms": "ms", "plans.catalyst_ms": "ms", "exec.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count", "exec.driver_ms": "ms",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "operators.pyworker_cpu_ms": "ms",
    "operators.gate_small_ratio": "ratio", "exec.jobs_distributed": "count",
    "star.load_batch_ms": "ms",
    "star.materialize_ms": "ms", "star.dim_partitions": "count",
    "streaming.batch_ms": "ms", "streaming.trigger_overhead_ms": "ms",
    "sources.dead_letter_ms": "ms", "sources.dead_letter_rows": "rows",
    "trace.overhead_ms": "ms",
}


def olap_queries(registry) -> list[str]:
    return [n for n in registry if n.startswith("star_q")] + list(GATED) + list(OLAP_ONLY)


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it (p90
    from 100 samples on), or the maximum when there are too few."""
    xs = sorted(samples)
    n = len(xs)
    if n >= 100:
        k = -(-90 * n // 100) - 1
    elif n >= 11:
        k = n - 11
    else:
        return xs[-1], "max"
    return xs[k], f"p{100 * (k + 1) / n:.1f}"


# --------------------------------------------------------------------------
# environment and process lifetime
# --------------------------------------------------------------------------


def prepare_env(run_dir: Path) -> None:
    """Keep the files Spark, the JVM and Python write inside the checkout,
    and let Spark's Python workers import the engine: the streaming loader
    never ships the package to them."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # -XX:-UsePerfData: the JVM would keep its counters file under /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell")
    import tempfile

    tempfile.tempdir = str(tmp)


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers ended."""
    from spans import descendants

    pids = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    alive = pids
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = [p for p in alive if _running(p)]
    for p in alive:
        os.kill(p, 9)


def _running(pid: int) -> bool:
    try:
        return Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------


class Run:
    """State of one benchmark process: the session, the tracer, failure
    counts and the per-layer totals."""

    def __init__(self, args, t_start: float) -> None:
        from spans import Tracer

        self.args = args
        self.t_start = t_start
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.tracer = Tracer(enabled=bool(args.trace))
        self.layer: dict[str, float] = {}
        self.overhead_s = 0.0
        self.measure_from = 0
        self.measuring = False
        #: (small verdicts, gate calls) of measured ops, by forced branch
        self.gates = {False: [0, 0], True: [0, 0]}
        self.dim_partitions: list[int] = []

    def add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        print(f"[perfbench] FAILED {what}", file=sys.stderr, flush=True)

    def start(self) -> None:
        from spans import SparkCounters

        from ut_data_engineering_group_project_2022_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.layer["session.start_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.counters = SparkCounters(self.spark)
        if self.tracer.enabled:
            self.tracer.job_id = self.counters.next_job_id
        self.wrap_layers()

    def wrap_layers(self) -> None:
        """Wrap the layer entry points listed in NOTES.md."""
        import ut_data_engineering_group_project_2022_spark.plans  # noqa: F401
        import ut_data_engineering_group_project_2022_spark.streaming.incremental  # noqa: F401
        from ut_data_engineering_group_project_2022_spark import catalog, operators
        from ut_data_engineering_group_project_2022_spark.operators import star
        from ut_data_engineering_group_project_2022_spark.sources import connectors

        tr = self.tracer
        # gate verdicts decide whether a forced-distributed row failed, so
        # the gates are wrapped in untraced runs too (recording no span)
        tr.wrap(operators, "bounded_small", "operators.gate", verdict=True)
        tr.wrap(operators, "table_is_small", "operators.gate", verdict=True)
        if tr.enabled:
            for fn in ("table", "parquet_row_count", "parquet_column_minmax"):
                tr.wrap(catalog, fn, f"catalog.{fn}")
            tr.wrap(star, "load_batch", "star.load_batch")
            tr.wrap(star.StarState, "materialize", "star.materialize")
            tr.wrap(connectors, "append_dead_letter", "sources.dead_letter")

    def begin_measuring(self) -> float:
        self.measuring = True
        self.measure_from = len(self.tracer.spans)
        now = time.perf_counter()
        self.setup_s = now - self.t_start
        return now

    def op_counters(self, j0: int, j1: int, wall_ms: tuple[float, float], cpu0: float) -> dict:
        """Spark and /proc counters of one operation (traced runs only)."""
        from spans import pyworker_cpu_ms

        t = time.perf_counter()
        st = self.counters.exec_stats(j0, j1, wall_ms)
        st["pyworker_cpu_ms"] = pyworker_cpu_ms(os.getpid()) - cpu0
        for k, v in st.items():
            self.add("operators.pyworker_cpu_ms" if k == "pyworker_cpu_ms" else f"exec.{k}", v)
        self.overhead_s += time.perf_counter() - t
        return st

    def layer_metrics(self, passes: int) -> dict:
        """Per-layer metrics, per pass, from the spans of the measured
        passes (the star loader's spans count from set-up on: on olap the
        bootstrap load is set-up work)."""
        spans = self.tracer.spans
        for i, s in enumerate(spans):
            if i < self.measure_from and not s.name.startswith("star."):
                continue
            ms = (s.end - s.start) * 1000
            if s.name.startswith("catalog."):
                self.add("catalog.calls", 1)
                self.add("catalog.ms", ms)
                self.add("catalog.jobs", s.attrs.get("jobs", 0))
            elif s.name == "plans.build":
                self.add("plans.build_ms", ms)
                self.add("plans.build_jobs", s.attrs.get("jobs", 0))
            elif s.name in ("plans.action", "star.load_batch", "star.materialize",
                            "streaming.batch", "sources.dead_letter"):
                self.add(s.name + "_ms", ms)
        once = ("session.start_s", "star.dim_partitions", "sources.dead_letter_rows",
                "star.load_batch_ms", "star.materialize_ms")
        out = {k: (v if k in once else v / passes) for k, v in self.layer.items()}
        small, calls = self.gates[False]
        out["operators.gate_small_ratio"] = small / calls if calls else 0.0
        out["trace.overhead_ms"] = self.overhead_s * 1000 / passes
        return out


# -- query workloads -------------------------------------------------------


def run_queries(run: Run, data_dir: Path) -> dict:
    import oracle

    from ut_data_engineering_group_project_2022_spark.plans import all_queries

    sys.path.insert(0, str(ROOT / "tools"))
    import bench_distributed

    registry = all_queries()
    ref = oracle.load()
    ops = [(n, False) for n in olap_queries(registry)] + [(n, True) for n in GATED]
    # builds the star warehouse every star_q* query reads, once
    registry["star_q01_authors_by_papers_in_domain"].spark(run.spark, str(data_dir))
    rng = random.Random(run.args.seed)

    def one_pass() -> list[float]:
        order = list(ops)
        rng.shuffle(order)
        out = []
        for name, distributed in order:
            saved = bench_distributed.disable_kernels() if distributed else None
            try:
                out.append(run_query(run, registry[name], data_dir, ref, distributed))
            finally:
                if saved is not None:
                    bench_distributed.restore_kernels(saved)
        return out

    # An untimed warm-up pass: the first execution of a plan in a process
    # pays JIT compilation and code generation worth 1-3x its warm latency,
    # which would land on whichever query the seed puts first. It also
    # fills the catalog's schema cache.
    one_pass()
    lat_ms: list[float] = []
    pass_s: list[float] = []
    t_begin = run.begin_measuring()
    while not pass_s or time.perf_counter() - t_begin < run.args.seconds:
        t_pass = time.perf_counter()
        lat_ms += one_pass()
        pass_s.append(time.perf_counter() - t_pass)
    tail_ms, pct = tail(lat_ms)
    return {
        "setup_s": run.setup_s, "op_p50_ms": statistics.median(lat_ms),
        "op_tail_ms": tail_ms, "pass_s": statistics.median(pass_s),
        "report": {"queries_per_pass": len(ops), "passes": len(pass_s),
                   "samples": len(lat_ms), "tail_percentile": pct, "pass_s_all": pass_s},
    }


def run_query(run: Run, spec, data_dir: Path, ref: dict, distributed: bool) -> float:
    """One query: the builder call plus collecting its result as Arrow.
    Returns its latency in ms; the checks run after the clock stopped."""
    import oracle
    from spans import pyworker_cpu_ms

    tr = run.tracer
    run.attempted += 1
    gates0 = len(tr.verdicts)
    cpu0 = pyworker_cpu_ms(os.getpid()) if tr.enabled else 0.0
    j0 = run.counters.next_job_id()
    wall0 = time.time() * 1000
    t0 = time.perf_counter()
    root = tr.begin("bench.op", query=spec.name, distributed=distributed)
    try:
        b = tr.begin("plans.build")
        df = spec.spark(run.spark, str(data_dir))
        tr.end(b)
        a = tr.begin("plans.action")
        result = df.toArrow()
        tr.end(a)
    except Exception as e:  # noqa: BLE001 - a failing query is counted, not fatal
        tr.end(root)
        run.fail(f"{spec.name}: {type(e).__name__}: {str(e)[:300]}")
        return (time.perf_counter() - t0) * 1000
    tr.end(root)
    ms = (time.perf_counter() - t0) * 1000
    j1 = run.counters.next_job_id()
    if tr.enabled and run.measuring:
        t = time.perf_counter()
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            run.add("plans.catalyst_ms", it.next()._2().durationMs())
        run.overhead_s += time.perf_counter() - t
        tr.spans[root].attrs.update(run.op_counters(j0, j1, (wall0, time.time() * 1000), cpu0))
    got, want = oracle.digest(result), ref["queries"][spec.name]
    if got != want:
        run.fail(f"{spec.name}: result digest {got} != oracle {want}")
    small = tr.verdicts[gates0:]
    if run.measuring:
        run.gates[distributed][0] += sum(small)
        run.gates[distributed][1] += len(small)
        if distributed and tr.enabled:
            run.add("exec.jobs_distributed", j1 - j0)
    if distributed and (any(small) or j1 - j0 == ref["kernel_jobs"][spec.name]):
        run.fail(f"{spec.name}: kernel branch ran ({sum(small)} of {len(small)} gates"
                 f" small, {j1 - j0} jobs)")
    return ms


# -- ingest ----------------------------------------------------------------


def run_ingest(run: Run, run_dir: Path) -> dict:
    import stream
    from spans import pyworker_cpu_ms

    from ut_data_engineering_group_project_2022_spark.streaming.incremental import (
        IncrementalStarLoader,
    )

    tr = run.tracer
    files = stream.generate(run.args.seed, STREAM_FILES)
    expected = stream.reference(files)
    inbox, ckpt, dead = run_dir / "inbox", run_dir / "ckpt", run_dir / "dead"
    inbox.mkdir()
    for i, recs in enumerate(files):
        staged = run_dir / f"batch-{i:03d}.json"
        staged.write_text("".join(json.dumps(r) + "\n" for r in recs))
        staged.rename(inbox / staged.name)
    loader = IncrementalStarLoader(run.spark, dead_letter_dir=str(dead))
    process = loader.process_batch
    batch_ms: list[float] = []
    batch_ops: list[tuple] = []
    states = []

    def timed_batch(df, batch_id):
        cpu0 = pyworker_cpu_ms(os.getpid()) if tr.enabled else 0.0
        j0 = run.counters.next_job_id()
        wall0 = time.time() * 1000
        t0 = time.perf_counter()
        span = tr.begin("streaming.batch", batch=batch_id)
        try:
            process(df, batch_id)
        finally:
            tr.end(span)
            batch_ms.append((time.perf_counter() - t0) * 1000)
            batch_ops.append((j0, run.counters.next_job_id(), wall0, time.time() * 1000, cpu0))
            states.append(loader.state)

    loader.process_batch = timed_batch
    t0 = run.begin_measuring()
    root = tr.begin("streaming.run_available")
    try:
        loader.run_available(str(inbox), str(ckpt), max_files_per_trigger=1)
    except Exception as e:  # noqa: BLE001 - the batches that did not commit are failures
        run.errors.append(f"run_available: {type(e).__name__}: {str(e)[:300]}")
    tr.end(root)
    pass_s = time.perf_counter() - t0
    if loader.batches_processed == 0:
        raise SystemExit(f"perfbench: no micro-batch committed: {run.errors}")

    if tr.enabled:
        for j0, j1, w0, w1, cpu0 in batch_ops:
            run.op_counters(j0, j1, (w0, w1), cpu0)
        t = time.perf_counter()
        # every dim is a filter over one checkpoint, so all five have the
        # same partition count
        run.dim_partitions = [max(getattr(s, d)._jdf.rdd().getNumPartitions() for d in STAR_DIMS)
                              for s in states]
        run.overhead_s += time.perf_counter() - t
        run.layer["star.dim_partitions"] = run.dim_partitions[-1] if states else 0
        run.layer["streaming.trigger_overhead_ms"] = pass_s * 1000 - sum(batch_ms)

    dead_rows = sum(len(p.read_text().splitlines()) for p in dead.glob("*.json"))
    run.layer["sources.dead_letter_rows"] = dead_rows
    # attempted: the micro-batches and the end-of-stream check of the star
    problems = check_star(loader.state, expected, dead_rows)
    run.errors += [f"star check: {p}" for p in problems]
    run.attempted = STREAM_FILES + 1
    run.failed = STREAM_FILES - loader.batches_processed + (1 if problems else 0)
    # batch 0 takes the bootstrap kernel; the batch metrics are those of
    # the distributed loader
    loads = batch_ms[1:] or batch_ms
    tail_ms, pct = tail(loads)
    return {
        "setup_s": run.setup_s, "op_p50_ms": statistics.median(loads),
        "op_tail_ms": tail_ms, "pass_s": pass_s,
        "report": {"passes": 1, "batches": len(batch_ms), "batch_ms": batch_ms,
                   "tail_percentile": pct, "accepted_rows": expected["facts"],
                   "ingest_rows_per_s": expected["facts"] / pass_s,
                   "dead_letter_rows": dead_rows, "checks_failed": len(problems)},
    }


def check_star(state, expected: dict, dead_rows: int) -> list[str]:
    """Differences between the loaded star schema and the reference."""
    problems = []

    def rows(df):
        return df.coalesce(1).toArrow().to_pylist()

    fact = rows(state.paper_fact.select("arxiv_ID", "author_group_key",
                                        "affiliation_group_key"))
    if len(fact) != expected["facts"]:
        problems.append(f"paper_fact has {len(fact)} rows, expected {expected['facts']}")
    if len({r["arxiv_ID"] for r in fact}) != len(fact):
        problems.append("paper_fact repeats an arxiv_ID")
    if dead_rows != expected["dead_letter"]:
        problems.append(f"dead letter has {dead_rows} rows, expected {expected['dead_letter']}")
    for col in ("author_group_key", "affiliation_group_key"):
        if sorted(r[col] for r in fact) != list(range(1, len(fact) + 1)):
            problems.append(f"paper_fact.{col} is not dense 1..n")
    for dim in STAR_DIMS:
        key = dim.replace("dim_", "") + "_key"
        got = rows(getattr(state, dim))
        if len(got) != expected["dims"][dim]:
            problems.append(f"{dim} has {len(got)} rows, expected {expected['dims'][dim]}")
        if sorted(r[key] for r in got) != list(range(1, len(got) + 1)):
            problems.append(f"{dim}.{key} is not dense 1..n")
    hg = {r["full_name"]: (r["h_index"], r["g_index"]) for r in rows(state.dim_author)}
    bad = [n for n, v in expected["authors"].items() if hg.get(n) != v]
    if bad:
        problems.append(f"{len(bad)} authors have a wrong h/g-index, e.g. {bad[0]}: "
                        f"{hg.get(bad[0])} != {expected['authors'][bad[0]]}")
    return problems


# --------------------------------------------------------------------------


def main(argv: list[str]) -> int:
    t_start = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=("olap_sf0.01", "ingest_stream"))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--recompute-oracle", action="store_true",
                   help="rerun every DuckDB oracle and rewrite oracle.json")
    args = p.parse_args(argv)
    if not args.recompute_oracle and args.workload is None:
        p.error("--workload is required")
    if not (ROOT / PKG).is_dir():
        print(f"perfbench: run from the repository root; {ROOT} has no {PKG}/",
              file=sys.stderr)
        return 2
    run_dir = WORK / f"run-{os.getpid()}"
    prepare_env(run_dir)
    sys.path.insert(0, str(ROOT))
    data_dir = DATA_DIR
    run = Run(args, t_start)
    try:
        run.start()
        if args.recompute_oracle:
            recompute_oracle(run, data_dir)
            return 0
        if args.workload == "ingest_stream":
            res = run_ingest(run, run_dir)
        else:
            res = run_queries(run, data_dir)
        from spans import descendants, peak_rss_mib

        res["peak_rss_mb"] = peak_rss_mib([os.getpid()] + descendants(os.getpid()))
    finally:
        run.tracer.restore()
        if hasattr(run, "spark"):
            stop_spark(run.spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    ingest = args.workload == "ingest_stream"
    named = {  # the end-to-end metrics under the names NOTES.md uses
        "setup_s": (res["setup_s"], "s"),
        ("batch_p50_ms" if ingest else "query_p50_ms"): (res["op_p50_ms"], "ms"),
        ("batch_max_ms" if ingest else "query_tail_ms"): (res["op_tail_ms"], "ms"),
        ("stream_s" if ingest else "pass_s"): (res["pass_s"], "s"),
        "failed_ratio": (run.failed / run.attempted if run.attempted else 0.0, "ratio"),
        "peak_rss_mb": (res["peak_rss_mb"], "MiB"),
    }
    if ingest:
        named["ingest_rows_per_s"] = (res["report"]["ingest_rows_per_s"], "rows/s")
    report = {"workload": args.workload, "seed": args.seed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
              **res["report"],
              "failed": run.failed, "attempted": run.attempted,
              "attempted_base": "micro-batches and the end-of-stream star check" if ingest else
              "query executions, the untimed warm-up pass included",
              "errors": run.errors}
    if args.trace:
        passes = res["report"]["passes"]
        layer = run.layer_metrics(passes)
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        report["self_ms_per_pass"] = self_time_by_layer(run, passes)
        small, calls = run.gates[True]
        report["gate_small_ratio_distributed"] = small / calls if calls else None
        report["dim_partitions_per_batch"] = run.dim_partitions
        trace_path = WORK / f"trace-{args.workload}-{args.seed}.json"
        trace_path.write_text(json.dumps([s.__dict__ for s in run.tracer.spans]))
        report["trace_file"] = str(trace_path.relative_to(ROOT))
    else:
        metrics = {k: {"value": float(res[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


def self_time_by_layer(run: Run, passes: int) -> dict:
    """Self time per layer (span-name prefix) over the measured root
    spans, in ms per pass. ``bench`` is the benchmark's own time between
    calls into the engine."""
    tr = run.tracer
    out: dict[str, float] = {}
    for i in range(run.measure_from, len(tr.spans)):
        if tr.spans[i].parent is None:
            for name, sec in tr.self_times(i).items():
                layer = name.split(".")[0]
                out[layer] = out.get(layer, 0.0) + sec * 1000 / passes
    return out


def recompute_oracle(run: Run, data_dir: Path) -> None:
    import oracle

    from ut_data_engineering_group_project_2022_spark.plans import all_queries

    registry = all_queries()
    names = olap_queries(registry)
    registry["star_q01_authors_by_papers_in_domain"].spark(run.spark, str(data_dir))
    out = oracle.recompute(run.spark, registry, names, list(GATED), data_dir,
                           run.counters.next_job_id)
    print(json.dumps(out["kernel_jobs"]))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
