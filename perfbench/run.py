"""Repository benchmark: end-to-end and per-layer figures of the engine.

    python3 perfbench/run.py --workload <name> [--seed N] [--seconds S] [--trace 0|1]

Run from the repository root.  Workloads, their inputs and the metric
names are fixed in ``perfbench/workloads.json`` and ``BENCHMARK.json``.
One process runs one workload as a closed loop with one client: set-up
(package import and ``get_spark`` with library defaults), then timed
iterations until ``--seconds`` have passed, then the output checks.  The
first iteration runs in a fresh session, as a one-shot user of the
engine sees it, and ``--seconds 1`` times exactly that iteration.  Every
output is checked outside the timed region; a raised error or a failed
check counts the operation as failed.

The end-to-end figures are CPU time of the whole process tree (this
process, the Spark JVM and its Python workers): ``cpu_s`` for the timed
iteration and ``setup_s`` for set-up.  On a shared host the cores a
machine gets come and go, which can double wall time for minutes; a
thread waiting for a core accrues no CPU time, so CPU time moves by a
few percent only (busy sibling hyperthreads still slow it).
Wall time is printed beside it as ``wall_s``.  With more than one timed
iteration, each operation (query, or the one corpus build) counts with
its median over the iterations.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` traces
every iteration, reports the per-layer metrics (the median over traced
iterations) and the traced wall and CPU time as ``trace.wall_s`` and
``trace.cpu_s`` (their difference to the untraced figures is the
tracing overhead), and writes the spans to ``perfbench/_work/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  Everything the
run writes (generated corpora, shards, Spark scratch space, spans) goes
under ``perfbench/_work/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from collections import Counter  # noqa: E402
from contextlib import contextmanager  # noqa: E402
from statistics import median  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
DRIVER_MEMORY = "4g"

sys.path.insert(0, HERE)

import checks  # noqa: E402
from cpuclock import tree_cpu  # noqa: E402
import docgen  # noqa: E402
from spans import Tracer, install_engine_wrappers, write_spans  # noqa: E402


def clock() -> tuple[float, float]:
    """``(wall, CPU)`` seconds; CPU of the whole process tree."""
    return time.perf_counter(), tree_cpu()


def since(t0: tuple[float, float]) -> tuple[float, float]:
    """``(wall, CPU)`` seconds elapsed since the ``clock()`` reading ``t0``."""
    t1 = clock()
    return t1[0] - t0[0], t1[1] - t0[1]


def load_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def log(msg: str) -> None:
    print(f"\n# {msg}", file=sys.stderr, flush=True)


@contextmanager
def phase(tracer: Tracer | None, sc, name: str):
    """A span and Spark job group named ``name`` when tracing."""
    if tracer is None:
        yield
        return
    sc.setJobGroup(name, name)
    with tracer.span(name):
        yield


def clear_job_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


class Headliners:
    """One iteration: each query built and collected, in order."""

    def __init__(self, spark, spec: dict, data_root: str) -> None:
        from bigdatamlteamrepo_spark.catalog import TABLE_SCHEMAS
        from bigdatamlteamrepo_spark.queries import ORACLE, QUERIES

        self.spark = spark
        self.names = spec["queries"]
        self.detailed = spec["detailed_queries"]
        missing = [n for n in self.names if n not in QUERIES or n not in ORACLE]
        if missing:
            raise KeyError(f"queries without a registration or oracle: {missing}")
        self.fns = {n: QUERIES[n] for n in self.names}
        self.oracle_sql = {n: ORACLE[n] for n in self.names}
        self.sf_dir = os.path.join(data_root, spec["input"]["tables"])
        self.tables = list(TABLE_SCHEMAS)

    def run_once(self, tracer: Tracer | None):
        sc = self.spark.sparkContext
        outs, times = {}, {}
        for name in self.names:
            t0 = clock()
            try:
                with phase(tracer, sc, f"queries.{name}.build"):
                    df = self.fns[name](self.spark, self.sf_dir)
                with phase(tracer, sc, f"queries.{name}.action"):
                    rows = df.collect()
                outs[name] = (df, rows)
            except Exception as ex:  # counted as a failed operation
                outs[name] = ex
            times[name] = since(t0)
        return times, outs

    def digest(self, outs: dict) -> dict:
        return {
            name: out if isinstance(out, Exception)
            else checks.result_digest(out[0].columns, out[1])
            for name, out in outs.items()
        }

    def reference_problems(self, ref: dict) -> dict[str, str]:
        oracle = checks.oracle_digests(self.sf_dir, self.tables, self.oracle_sql)
        problems = {}
        for name in self.names:
            got, want = ref[name], oracle[name]
            if isinstance(got, Exception):
                problems[name] = f"raised {type(got).__name__}: {got}"
            elif got != want:
                problems[name] = f"oracle mismatch: spark {got[:2]} vs duckdb {want}"
        return problems

    def layer_metrics(self, tracer: Tracer, jobs: list[dict]) -> dict:
        jobs_of = Counter(j.get("jobGroup") for j in jobs)
        m = {
            "queries.build_s": sum(tracer.total(f"queries.{n}.build") for n in self.names),
            "queries.action_s": sum(tracer.total(f"queries.{n}.action") for n in self.names),
            "queries.build_jobs": sum(jobs_of[f"queries.{n}.build"] for n in self.names),
        }
        for n in self.names:
            build = tracer.total(f"queries.{n}.build")
            m[f"queries.{n}.wall_s"] = build + tracer.total(f"queries.{n}.action")
            if n in self.detailed:
                m[f"queries.{n}.build_s"] = build
                m[f"queries.{n}.jobs"] = (
                    jobs_of[f"queries.{n}.build"] + jobs_of[f"queries.{n}.action"]
                )
        return m


class CorpusBuild:
    """One iteration: ``build_training_corpus`` to written shards and
    the collected report."""

    STAGES = ("gate_exact", "neardup", "lm")

    def __init__(self, spark, spec: dict, sf_dir: str, seed: int, default_seed: int) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.n_shards = spec["n_shards"]
        self.expected = spec["expected_at_default_seed"] if seed == default_seed else None
        self.out_dir = os.path.join(WORK, "shards")
        self.names = ["build"]
        #: (report, shard summary) of the first and of the latest build
        self.ref = self.last = None

    def run_once(self, tracer: Tracer | None):
        from bigdatamlteamrepo_spark.pipelines import build_training_corpus

        shutil.rmtree(self.out_dir, ignore_errors=True)
        sc = self.spark.sparkContext
        t0 = clock()
        try:
            with phase(tracer, sc, "pipelines.build"):
                res = build_training_corpus(
                    self.spark, self.sf_dir, self.out_dir, n_shards=self.n_shards
                )
            with phase(tracer, sc, "pipelines.report"):
                out = res["report"].collect()
        except Exception as ex:  # counted as a failed operation
            out = ex
        return {"build": since(t0)}, {"build": out}

    def digest(self, outs: dict) -> dict:
        if isinstance(outs["build"], Exception):
            self.last = None
            return outs
        report = [r.asDict() for r in outs["build"]]
        shards = checks.shard_summary(self.out_dir)
        self.last = report, shards
        if self.ref is None:
            self.ref = self.last
        rep = tuple(tuple(sorted(r.items())) for r in report)
        return {"build": (rep, shards["hash"], tuple(shards["dup_keys"]))}

    def reference_problems(self, ref: dict) -> dict[str, str]:
        if isinstance(ref["build"], Exception):
            got = ref["build"]
            return {"build": f"raised {type(got).__name__}: {got}"}
        report, shards = self.ref
        log(
            f"corpus build: {sum(r['n_selected'] for r in report)} of "
            f"{sum(r['n_input'] for r in report)} docs shipped, shard hash {shards['hash']}"
        )
        problems = checks.corpus_problems(report, shards, self.expected)
        return {"build": "; ".join(problems)} if problems else {}

    def layer_metrics(self, tracer: Tracer, jobs: list[dict]) -> dict:
        (build,) = tracer.named("pipelines.build")
        m = {
            "pipelines.build_s": tracer.total("pipelines.build"),
            "pipelines.report_s": tracer.total("pipelines.report"),
            "pipelines.stage.shard_write_s": tracer.total("pipelines.shard_write"),
        }
        if self.last is not None:  # the build returned a report
            report, shards = self.last
            m["pipelines.docs_selected"] = sum(r["n_selected"] for r in report)
            m["sources.shard_files"] = shards["files"]
            m["sources.shard_mb"] = shards["bytes"] / 1e6
            m["sources.write_amp"] = shards["bytes"] / max(
                1, sum(r["chars_shipped"] for r in report)
            )
        # stage boundaries: the pipeline's own eager checkpoints, in call order
        cuts = [build.start] + [
            s.end
            for s in tracer.spans
            if s.name == "materialize.local_checkpoint"
            and s.attrs.get("caller") == "bigdatamlteamrepo_spark.pipelines"
            and s.attrs.get("eager")
        ]
        for stage, lo, hi in zip(self.STAGES, cuts, cuts[1:]):
            m[f"pipelines.stage.{stage}_s"] = hi - lo
        return m


def operator_metrics(tracer: Tracer) -> dict:
    m = {}
    for op in ("connected_components", "truncate"):
        spans = tracer.named(f"operators.{op}")
        m[f"operators.{op}.calls"] = len(spans)
        m[f"operators.{op}.s"] = sum(s.duration for s in spans)
    for kind in ("local_checkpoint", "persist", "reliable_checkpoint"):
        m[f"materialize.{kind}.calls"] = len(tracer.named(f"materialize.{kind}"))
    m["materialize.eager_s"] = sum(
        s.duration
        for s in tracer.spans
        if s.name in ("materialize.local_checkpoint", "materialize.reliable_checkpoint")
        and s.attrs.get("eager")
    )
    return m


def configure_environment() -> None:
    """Point every scratch location at ``WORK``, pin the core count and
    cap the driver heap (16g by default) so a run stays small on a
    shared machine."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    spec = load_json(os.path.join(HERE, "workloads.json"))
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec["workloads"]))
    ap.add_argument("--seed", type=int, default=spec["default_seed"])
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wspec = spec["workloads"][args.workload]

    configure_environment()
    sys.path.insert(0, ROOT)
    import __spark_entry__
    from bigdatamlteamrepo_spark import get_spark, stagecache

    # the sf0.001 / sf0.01 / sf0.1 test tables sit side by side
    data_root = os.path.dirname(__spark_entry__._SMOKE_SF_DIR)

    gen = (0.0, 0.0)
    if "queries" not in wspec:
        inp = wspec["input"]
        sf_dir = os.path.join(
            WORK, "corpus", f"docs{inp['documents']}x{inp['files']}-seed{args.seed}"
        )
        t = clock()
        made = docgen.ensure_documents(
            os.path.join(data_root, inp["base"], "documents.parquet"),
            sf_dir, inp["documents"], inp["files"], args.seed,
        )
        gen = since(t)
        log(f"corpus {'generated' if made else 'cached'} in {gen[0]:.2f} s: {sf_dir}")

    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}/tmp"},
    )
    session_s = time.perf_counter() - t
    try:
        if "queries" in wspec:
            wl = Headliners(spark, wspec, data_root)
        else:
            wl = CorpusBuild(spark, wspec, sf_dir, args.seed, spec["default_seed"])
        result = measure(spark, wl, args, bench, session_s, gen)
        if stagecache.enabled() or stagecache.build_secs():
            raise RuntimeError("the stage cache ran; the benchmark measures it off")
    finally:
        stop_spark(spark)
    print(json.dumps(result))
    return 0


def run_iteration(wl, stats, traced: bool):
    """One iteration: ``((wall, CPU) seconds per operation, digest,
    per-layer metrics, tracer)``; the last two are None when not traced.
    Status-store figures are read right after the iteration, outside its
    timed region."""
    from bigdatamlteamrepo_spark import stagecache

    if not traced:
        times, outs = wl.run_once(None)
        return times, wl.digest(outs), None, None
    tracer = Tracer()
    before = stats.last_job_id()
    builds_before = len(stagecache.build_secs())
    install_engine_wrappers(tracer)
    t0 = time.time()
    try:
        times, outs = wl.run_once(tracer)
    finally:
        tracer.restore()
        clear_job_group(wl.spark.sparkContext)
    t1 = time.time()
    digest = wl.digest(outs)
    groups = sorted({s.name for s in tracer.spans if s.parent is None})
    layer, jobs = stats.iteration(before, t0, t1, groups)
    layer.update(wl.layer_metrics(tracer, jobs))
    layer.update(operator_metrics(tracer))
    layer["stagecache.builds"] = len(stagecache.build_secs()) - builds_before
    return times, digest, layer, tracer


def robust_sum(times: list[dict], which: int) -> float:
    """Sum over operations of each one's median over iterations of its
    wall (``which`` 0) or CPU (``which`` 1) seconds."""
    return sum(median(t[op][which] for t in times) for op in times[0])


def measure(spark, wl, args, bench: dict, session_s: float, gen: tuple) -> dict:
    from sparkstats import SparkStats

    stats = SparkStats(spark) if args.trace else None
    digests = []
    setup_wall = time.perf_counter() - T_START - gen[0]
    setup_s = tree_cpu() - gen[1]
    times: list[dict] = []
    layers: list[dict] = []
    traces: dict[str, Tracer] = {}
    t_measure = time.perf_counter()
    while not times or time.perf_counter() - t_measure < args.seconds:
        t, digest, layer, tracer = run_iteration(wl, stats, bool(args.trace))
        times.append(t)
        digests.append(digest)
        if tracer is not None:
            layers.append(layer)
            traces[f"iteration{len(times)}"] = tracer
    ref = digests[0]

    # correctness of the reference outputs, then of every timed iteration
    problems = wl.reference_problems(ref)
    attempted = failed = 0
    failing: dict[str, int] = {}
    for d in digests:
        for name in wl.names:
            attempted += 1
            bad = name in problems or isinstance(d[name], Exception) or d[name] != ref[name]
            if bad:
                failed += 1
                failing[name] = failing.get(name, 0) + 1
    for name, why in problems.items():
        log(f"FAILED {name}: {why}")
    for name, n in failing.items():
        if name not in problems:
            log(f"FAILED {name}: {n} timed iteration(s) differ from the first one")

    wall_s, cpu_s = robust_sum(times, 0), robust_sum(times, 1)
    kind = "traced" if args.trace else "untraced"
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    print(
        f"setup_s    {setup_s:.4f} s CPU, {setup_wall:.4f} s wall (import and session; "
        f"corpus generation {gen[0]:.2f} s not included)"
    )
    print(
        f"cpu_s      {cpu_s:.4f} s CPU (per-operation medians over {len(times)} {kind} "
        f"iterations of {', '.join(f'{sum(c for _, c in t.values()):.3f}' for t in times)} s)"
    )
    print(
        f"wall_s     {wall_s:.4f} s (per-operation medians over {len(times)} {kind} "
        f"iterations of {', '.join(f'{sum(w for w, _ in t.values()):.3f}' for t in times)} s)"
    )
    print(
        f"error_rate {failed / max(1, attempted):.4f} failed/attempted "
        f"({failed} of {attempted} operations failed)"
    )

    if args.trace:
        write_spans(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"), traces)
        values = {
            name: median([m.get(name, 0) for m in layers])
            for name in {n for m in layers for n in m}
        }
        values["session.start_s"] = session_s
        values["trace.wall_s"] = wall_s
        values["trace.cpu_s"] = cpu_s
        wanted = bench["per_layer"]
    else:
        values = {"setup_s": setup_s, "cpu_s": cpu_s}
        wanted = bench["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in wanted}
    if args.trace:
        for name, v in sorted(values.items()):
            print(f"{name:48s} {v}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
