"""The engine's benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload neardup_web --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Each run generates its corpus from the
seed, sets the engine up twice (session start, corpus generation and cache,
one warm-up pass), runs passes under the engine's default size guards in a
closed loop on local[4] for ``--seconds``, then one pass with every size
guard at 0 so the distributed plans run, checking every output. The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics of the traced passes with ``--trace 1``. The host record and the
full span table go to stderr and to ``.perfbench_work/results/``. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

SETUPS = 2  # set-ups per untraced run; setup_s is their median
MAX_ERRORS = 3  # passes that raise before a run gives up measuring

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "dist_pass_s": "s",
    "query_p50_ms": "ms",
    "query_p90_ms": "ms",
    "peak_rss_mb": "MB",
    "ok_ops_ratio": "ratio",
}

# Per-layer metrics of a traced run: (span, field) pairs an optimisation is
# most likely to move, then derived ratios and pass-level figures.
_ALL = ("self_s", "core_s", "jobs")
_TIME = ("self_s", "core_s")  # lazy operators whose own calls start no job
_SHUFFLE = ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")
_SPAN_FIELDS = {
    "text.shingles": _TIME,
    "minhash.signatures": _TIME,
    "minhash.candidates": _ALL + ("driver_s", "tasks") + _SHUFFLE + ("rows_out",),
    "salted_join.pairs": _TIME,
    "minhash.verify": _ALL + ("driver_s",),
    "pipeline.neardup_clusters": _ALL + ("driver_s",),
    "simhash.fingerprints": _TIME,
    "simhash.candidates": _ALL + ("rows_out",),
    "simhash.pairs": _ALL + ("driver_s",),
    "corpus.with_offsets": _ALL + ("driver_s",),
    "suffix.self_similar": _ALL + ("tasks",) + _SHUFFLE,
    "intervals.coalesce_positions": _ALL + ("driver_s",) + _SHUFFLE,
    "strike.apply_removals": _ALL + ("driver_s",) + _SHUFFLE,
    "sa_index.build": _ALL + ("tasks",),
    "sa_index.write": _TIME,
    "sa_index.count_occurrences": _ALL + ("driver_s", "tasks"),
    "sa_index.find_training_data": _ALL + ("driver_s",),
    "pass": _TIME,
    # the distributed plans, from the passes with every size guard at 0
    "dist.minhash.candidates": _ALL + ("shuffle_write_bytes",),
    "dist.salted_join.pairs": _TIME + ("tasks", "shuffle_write_bytes"),
    "dist.minhash.verify": _TIME + ("tasks",),
    "dist.exact.duplicate_edges": _TIME,
    "dist.connected_components": _ALL + ("driver_s", "tasks") + _SHUFFLE,
    "dist.simhash.candidates": _ALL,
    "dist.corpus.with_offsets": _TIME + ("shuffle_write_bytes",),
    "dist.intervals.coalesce_positions": _TIME + ("driver_s",) + _SHUFFLE,
    "dist.strike.apply_removals": _TIME + ("driver_s",) + _SHUFFLE,
    "dist.pass": _TIME,
}
_UNITS = {
    "self_s": ("s", "lower"),
    "driver_s": ("s", "lower"),
    "core_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "shuffle_write_bytes": ("B", "lower"),
    "shuffle_read_bytes": ("B", "lower"),
    "spill_bytes": ("B", "lower"),
    "rows_out": ("rows", "lower"),
}
PER_LAYER = [
    (f"{span}.{f}", *_UNITS[f]) for span, fs in _SPAN_FIELDS.items() for f in fs
] + [
    ("minhash.verify.kept_ratio", "ratio", "higher"),
    ("simhash.verify.kept_ratio", "ratio", "higher"),
    ("suffix.self_similar.shuffle_bytes_per_corpus_byte", "B/B", "lower"),
    ("sa_index.bytes_per_corpus_byte", "B/B", "lower"),
    ("pass.jobs", "count", "lower"),
    ("dist.pass.jobs", "count", "lower"),
    ("trace.pass_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
]


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and start from
    the engine's defaults: inherited SPARK_GRAFT_* knobs would change which
    plans run."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    for sub in ("eventlog", "sa_index", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    os.environ["PERFBENCH_WORK"] = WORK
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK}/tmp"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [ROOT, HERE]


def _quantile(xs: list[float], q: int) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


class Run:
    def __init__(self, args):
        from host import host_record
        from workloads import WORKLOADS

        self.args = args
        self.wl = WORKLOADS[args.workload]()
        self.host = host_record()
        self.attempted = self.failed = 0
        self.errors = 0
        self.problems: list[str] = []
        self.digests: set[str] = set()
        self.jobs: list[int] = []  # per untraced default-guard pass
        self.pipeline_jobs: list[int] = []  # the same, less the lookup calls
        self.dist_jobs: list[int] = []  # per untraced distributed pass

    def account(self, r, where: str) -> None:
        # every pass of one run, distributed passes included, must give
        # the same output
        self.digests.add(r.digest)
        if len(self.digests) > 1:
            r.problems.append("output differs between passes of one run")
            r.failed_ops = max(r.failed_ops, 1)
        self.attempted += r.ops
        self.failed += r.failed_ops
        self.problems += [f"{where}: {p}" for p in r.problems]

    def guarded_pass(self, spark, where: str, dist: bool = False, warm: bool = False):
        """One pass; an exception counts as a failed operation."""
        try:
            r = self.wl.run_pass(spark, dist, warm)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.errors += 1
            self.attempted += 1
            self.failed += 1
            self.problems.append(f"{where}: raised")
            return None
        self.account(r, where)
        return r

    def counted_pass(self, spark, where: str, dist: bool):
        """An untraced pass in a job group of its own; records its Spark
        jobs. A default-guard pass may start no more jobs than the workload
        expects (see ``dist_regime_problems`` for the distributed one)."""
        sc = spark.sparkContext
        self.wl.recache(spark)
        sc.setJobGroup(where, "perfbench pass")
        try:
            r = self.guarded_pass(spark, where, dist)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        if r is not None:
            jobs = len(sc.statusTracker().getJobIdsForGroup(where))
            if dist:
                self.dist_jobs.append(jobs)
            else:
                self.jobs.append(jobs)
                self.pipeline_jobs.append(jobs - r.lookup_jobs)
                self.regime_failed(where, self.wl.regime_problems(jobs))
        return r

    def regime_failed(self, where: str, bad: list[str]) -> None:
        if bad:
            self.failed += 1
            self.attempted += 1
            self.problems += [f"{where}: {p}" for p in bad]

    def dist_regime_problems(self) -> list[str]:
        """A distributed pass must start more jobs than the same pipeline
        in every default-guard pass (lookup calls left out: the distributed
        pass makes none), or the distributed plans did not run."""
        top = max(self.pipeline_jobs, default=0)
        return [
            f"{jobs} jobs, not above the {top} of a default-guard pass: "
            "the distributed plans did not run"
            for jobs in self.dist_jobs
            if jobs <= top
        ]

    def traced_pass(self, spark, tracer, where: str, pass_no: int, dist: bool):
        """A pass with every layer in a span (``dist.``-prefixed in a
        distributed pass); returns its wall or None."""
        self.wl.recache(spark)
        tracer.pass_no, tracer.enabled = pass_no, True
        tracer.prefix = "dist." if dist else ""
        try:
            with tracer.span("pass"):
                r = self.guarded_pass(spark, where, dist)
        finally:
            tracer.enabled = False
        return None if r is None else r.wall

    def main(self) -> dict:
        from host import HEAP_BYTES, RssSampler, alu_spin, launch_jvm, reap, stop_jvm

        args = self.args
        self.host["alu_spin_before_s"] = round(alu_spin(), 4)
        with RssSampler() as rss:
            try:
                t = time.perf_counter()
                launch_jvm(WORK, args.trace)
                self.host["jvm_launch_s"] = round(time.perf_counter() - t, 3)
                out = self._measure()
            except Exception:
                # the engine or Spark failed outside any pass: a failed run,
                # reported as one, not a crash
                traceback.print_exc(file=sys.stderr)
                self.problems.append("run raised")
                self.attempted += 1
                self.failed += 1
                out = self._result(None)
            finally:
                from pyspark.sql import SparkSession

                active = SparkSession.getActiveSession()
                if active is not None:
                    active.stop()
                stop_jvm()
        reap(rss.seen)
        self.host["alu_spin_after_s"] = round(alu_spin(), 4)
        if args.trace and "trace" in out:
            out["metrics"] = self._layer_metrics(out.pop("trace"))
            bad = self.wl.trace_problems(self.host["spans"])
            if bad:
                self.problems += bad
                out["attempted"] += 1
                out["failed"] += 1
                out["correct"] = False
        elif "pass_s" in out["metrics"]:
            out["metrics"]["peak_rss_mb"] = (rss.peak - HEAP_BYTES) / 2**20
            self.host["processes_at_peak_mb"] = rss.at_peak
        return out

    def _result(self, metrics: dict | None) -> dict:
        """The result line. A run with a failed operation is not correct;
        one that measured no pass (``metrics`` None) reports only
        ``ok_ops_ratio``."""
        attempted = max(1, self.attempted)
        failed = self.failed if metrics is not None else max(1, self.failed)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics
            if metrics is not None
            else {"ok_ops_ratio": (attempted - failed) / attempted},
        }

    def _measure(self) -> dict:
        from host import start_session, zero_guards

        args, wl = self.args, self.wl
        setups = []
        spark = None
        for k in range(1 if args.trace else SETUPS):
            t = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = start_session(WORK, args.trace)
            wl.setup(spark, args.seed)
            if self.guarded_pass(spark, f"warm-up {k}", warm=True) is None:
                return self._result(None)
            setups.append(time.perf_counter() - t)

        walls, lats, dist_walls = [], [], []
        traced: dict[bool, list[tuple[int, float]]] = {False: [], True: []}
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark=spark)
            tracer.install()

        def one(where: str, n: int, dist: bool):
            """An untraced pass, then in a traced run a traced one."""
            r = self.counted_pass(spark, where, dist)
            if tracer is not None:
                w = self.traced_pass(spark, tracer, "traced " + where, n, dist)
                if w is not None:
                    traced[dist].append((n, w))
            return r

        i = 0
        t_end = time.perf_counter() + args.seconds
        try:
            while (
                len(walls) < wl.min_passes or time.perf_counter() < t_end
            ) and self.errors < MAX_ERRORS:
                i += 1
                r = one(f"pass-{i}", i, False)
                if r is not None:
                    walls.append(r.wall)
                    lats += r.latencies
            # the distributed pass last: a default pass right after it runs
            # slower, by an amount that varies from run to run
            with zero_guards():
                r = one("dist", i + 1, True)
                if r is not None:
                    dist_walls.append(r.wall)
        finally:
            if tracer is not None:
                tracer.uninstall()
        self.regime_failed("dist", self.dist_regime_problems())
        self.host["roles"] = wl.roles()
        self.host["jobs_per_pass"] = self.jobs
        self.host["pipeline_jobs_per_pass"] = self.pipeline_jobs
        self.host["jobs_per_dist_pass"] = self.dist_jobs
        self.host["pass_walls_s"] = [round(w, 4) for w in walls]
        self.host["dist_pass_walls_s"] = [round(w, 4) for w in dist_walls]
        self.host["query_ms"] = [round(1e3 * x, 1) for x in lats]
        self.host["setup_walls_s"] = [round(s, 4) for s in setups]
        if not walls or not dist_walls:
            return self._result(None)
        if args.trace:
            res = self._result({})
            res["trace"] = {"spans": tracer.spans, "traced": traced, "walls": walls}
            return res
        return self._result(
            {
                "setup_s": statistics.median(setups),
                "pass_s": statistics.median(walls),
                "dist_pass_s": dist_walls[0],
                "query_p50_ms": 1e3 * statistics.median(lats),
                "query_p90_ms": 1e3 * _quantile(lats, 90),
                "ok_ops_ratio": (self.attempted - self.failed) / max(1, self.attempted),
            }
        )

    def _layer_metrics(self, tr: dict) -> dict:
        import spans as tracing

        jobs = tracing.read_event_logs(os.path.join(WORK, "eventlog"))
        table = tracing.span_table(tr["spans"], jobs)
        # default-guard and distributed spans are named apart (``dist.``),
        # and each takes its median over its own kind of pass
        med = {}
        for passes in tr["traced"].values():
            nos = {i for i, _ in passes}
            med.update(tracing.median_table({p: v for p, v in table.items() if p in nos}))
        self.host["spans"] = med

        def get(span: str, f: str) -> float:
            return med.get(span, {}).get(f, 0)

        m = {f"{s}.{f}": get(s, f) for s, fs in _SPAN_FIELDS.items() for f in fs}

        def ratio(a: float, b: float) -> float:
            return a / b if b else 0.0

        corpus_bytes = self.host["roles"].get("corpus_bytes", 0)
        index_dir = os.path.join(WORK, "sa_index")
        index_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(index_dir)
            for f in fs
            if not f.startswith((".", "_"))
        )
        traced = tr["traced"][False]
        traced_wall = statistics.median(w for _, w in traced) if traced else 0.0
        untraced_wall = statistics.median(tr["walls"]) if tr["walls"] else 0.0
        m.update(
            {
                "minhash.verify.kept_ratio": ratio(
                    get("minhash.verify", "rows_out"), get("minhash.candidates", "rows_out")
                ),
                "simhash.verify.kept_ratio": ratio(
                    get("simhash.pairs", "rows_out"), get("simhash.candidates", "rows_out")
                ),
                "suffix.self_similar.shuffle_bytes_per_corpus_byte": ratio(
                    get("suffix.self_similar", "shuffle_write_bytes"), corpus_bytes
                ),
                "sa_index.bytes_per_corpus_byte": ratio(index_bytes, corpus_bytes),
                "pass.jobs": statistics.median(self.jobs) if self.jobs else 0,
                "dist.pass.jobs": statistics.median(self.dist_jobs) if self.dist_jobs else 0,
                "trace.pass_s": traced_wall,
                "trace.overhead_s": traced_wall - untraced_wall,
            }
        )
        return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _prepare_env()
    try:
        import deduplicate_text_datasets_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine cannot be imported: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run = Run(args)
    out = run.main()
    units = dict(END_TO_END, **{n: u for n, u, _ in PER_LAYER})
    out["metrics"] = {
        k: {"value": float(v), "unit": units[k]} for k, v in out["metrics"].items()
    }
    record = dict(run.host, problems=run.problems[:50], args=vars(args))
    for p in run.problems[:20]:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(WORK, "results", name), "w") as f:
        json.dump(dict(record, result=out), f, indent=1, default=str)
    print(json.dumps({"host": record}, default=str), file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
