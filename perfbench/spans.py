"""Per-layer spans, recorded from outside the engine.

The tracer replaces each traced public function of the engine (in its own
module and wherever another engine module imported it by name) with a
wrapper that opens a span around the call. Each span tags the Spark jobs it
starts with its own job group, so the event log attributes executor time,
tasks, shuffle and spill bytes to the innermost span that ran them.

Spark is lazy: most public operators return a plan and the work runs in a
later action, inside whichever span happens to call it. So, in a traced
pass, a wrapper that gets a DataFrame back persists it and counts it inside
its own span (in a job group of its own, ``<span>.m``, kept apart from the
program's jobs). Each layer's executor work then lands on its own span, and
the count gives ``rows_out``. The cost of those extra actions is the tracing
overhead, which the traced run reports next to the untraced pass wall.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "deduplicate_text_datasets_spark"

# (module, function, span name, materialize the returned DataFrame)
TARGETS = [
    ("operators.minhash", "doc_shingles", "text.shingles", True),
    ("operators.minhash", "minhash_signatures", "minhash.signatures", True),
    ("operators.minhash", "candidate_pairs", "minhash.candidates", True),
    ("operators.salted_join", "driver_bucket_pairs", "salted_join.pairs", True),
    ("operators.salted_join", "grid_salted_self_pairs", "salted_join.pairs", True),
    ("operators.minhash", "verify_pairs", "minhash.verify", True),
    ("operators.exact", "exact_duplicate_edges", "exact.duplicate_edges", True),
    (
        "operators.connected_components",
        "connected_components",
        "connected_components",
        True,
    ),
    # self time of the pipeline span is the named remainder: the driver CC
    # twin (a private helper) and the final cluster join
    ("plans.pipeline", "neardup_clusters", "pipeline.neardup_clusters", False),
    ("operators.simhash", "simhash_fingerprints", "simhash.fingerprints", True),
    ("operators.simhash", "simhash_candidates", "simhash.candidates", True),
    ("operators.simhash", "simhash_pairs", "simhash.pairs", True),
    ("sources.corpus", "with_offsets", "corpus.with_offsets", True),
    ("operators.suffix", "self_similar", "suffix.self_similar", True),
    ("operators.intervals", "coalesce_positions", "intervals.coalesce_positions", True),
    ("operators.strike", "apply_removals", "strike.apply_removals", True),
    ("plans.pipeline", "exactsubstr_dedup", "pipeline.exactsubstr_dedup", False),
    ("operators.sa_index", "build_suffix_index", "sa_index.build", True),
    ("operators.sa_index", "write_suffix_index", "sa_index.write", False),
    ("operators.sa_index", "count_occurrences_indexed", "sa_index.count_occurrences", True),
    ("operators.sa_index", "find_training_data_indexed", "sa_index.find_training_data", True),
]

FIELDS = (
    "self_s",
    "driver_s",
    "jobs",
    "tasks",
    "core_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "rows_out",
)


@dataclass
class Span:
    name: str
    sid: str
    parent: str | None
    pass_no: int
    t0: float
    t1: float = 0.0
    child_wall: float = 0.0
    rows_out: int = 0


@dataclass
class Tracer:
    spark: object = None
    enabled: bool = False
    pass_no: int = 0
    prefix: str = ""  # prepended to every span name, e.g. "dist."
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)
    _n: int = 0

    # -- installation -------------------------------------------------------
    def install(self) -> None:
        for mod, _, _, _ in TARGETS:
            importlib.import_module(f"{PKG}.{mod}")
        engine = [m for n, m in list(sys.modules.items()) if n.startswith(PKG) and m]
        for mod, attr, name, mat in TARGETS:
            orig = getattr(sys.modules[f"{PKG}.{mod}"], attr)
            wrapped = self._wrap(orig, name, mat)
            for m in engine:
                for k, v in list(vars(m).items()):
                    if v is orig:
                        self._patched.append((m, k, orig))
                        setattr(m, k, wrapped)

    def uninstall(self) -> None:
        for m, k, orig in reversed(self._patched):
            setattr(m, k, orig)
        self._patched.clear()

    def _wrap(self, fn, name: str, materialize: bool):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
                if materialize:
                    sp.rows_out += tracer._materialize(sp, out)
            return out

        return traced

    # -- spans -------------------------------------------------------------
    def _group(self, span: Span | None, suffix: str = "") -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.sid + suffix, span.name)

    @contextmanager
    def span(self, name: str):
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            self.prefix + name,
            f"span-{self._n}",
            parent and parent.sid,
            self.pass_no,
            time.time(),
        )
        self._stack.append(sp)
        self._group(sp)
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            self._stack.pop()
            if parent is not None:
                parent.child_wall += sp.t1 - sp.t0
            self._group(parent)
            self.spans.append(sp)

    def _materialize(self, sp: Span, out) -> int:
        import pandas as pd
        from pyspark.sql import DataFrame

        if isinstance(out, DataFrame):
            self._group(sp, ".m")
            try:
                return int(out.persist().count())
            finally:
                self._group(sp)
        # driver-side results (salted_join's numpy twin) are counted as is
        return len(out) if isinstance(out, pd.DataFrame) else 0


# ---------------------------------------------------------------------------
# Event-log attribution
# ---------------------------------------------------------------------------


@dataclass
class JobStats:
    group: str | None
    t0: float
    t1: float = 0.0
    tasks: int = 0
    core_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0


def read_event_logs(eventlog_dir: str) -> list[JobStats]:
    """Per-job task totals from every Spark event log in the directory
    (one per SparkContext the run started)."""
    jobs: list[JobStats] = []
    for path in sorted(glob.glob(f"{eventlog_dir}/*")):
        by_id: dict[int, JobStats] = {}
        stage_job: dict[int, JobStats] = {}
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line[:48]:
                    ev = json.loads(line)
                    props = ev.get("Properties") or {}
                    js = JobStats(
                        props.get("spark.jobGroup.id"), ev["Submission Time"] / 1e3
                    )
                    by_id[ev["Job ID"]] = js
                    for s in ev["Stage IDs"]:
                        stage_job.setdefault(s, js)  # first job runs the stage
                elif '"SparkListenerJobEnd"' in line[:48]:
                    ev = json.loads(line)
                    by_id[ev["Job ID"]].t1 = ev["Completion Time"] / 1e3
                elif '"SparkListenerTaskEnd"' in line[:48]:
                    ev = json.loads(line)
                    js = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if js is None or not m:
                        continue
                    js.tasks += 1
                    js.core_s += m.get("Executor Run Time", 0) / 1e3
                    js.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    r = m.get("Shuffle Read Metrics", {})
                    js.shuffle_read_bytes += r.get("Remote Bytes Read", 0) + r.get(
                        "Local Bytes Read", 0
                    )
                    js.spill_bytes += m.get("Disk Bytes Spilled", 0)
        jobs.extend(by_id.values())
    return jobs


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def span_table(spans: list[Span], jobs: list[JobStats]) -> dict[int, dict[str, dict]]:
    """{pass_no: {span name: {field: value}}}, values summed over the
    span's calls within the pass."""
    by_group: dict[str, list[JobStats]] = {}
    for j in jobs:
        if j.group:
            by_group.setdefault(j.group, []).append(j)
    out: dict[int, dict[str, dict]] = {}
    for sp in spans:
        own = by_group.get(sp.sid, [])
        mat = by_group.get(sp.sid + ".m", [])
        self_s = (sp.t1 - sp.t0) - sp.child_wall
        busy = _covered([(j.t0, j.t1) for j in own + mat if j.t1])
        row = out.setdefault(sp.pass_no, {}).setdefault(
            sp.name, {f: 0 for f in FIELDS}
        )
        row["self_s"] += self_s
        row["driver_s"] += max(0.0, self_s - busy)
        row["jobs"] += len(own)
        row["rows_out"] += sp.rows_out
        for j in own + mat:
            row["tasks"] += j.tasks
            row["core_s"] += j.core_s
            row["shuffle_write_bytes"] += j.shuffle_write_bytes
            row["shuffle_read_bytes"] += j.shuffle_read_bytes
            row["spill_bytes"] += j.spill_bytes
    return out


def median_table(table: dict[int, dict[str, dict]]) -> dict[str, dict]:
    """Per span and field, the median over traced passes (0 where a pass
    never entered the span)."""
    passes = sorted(table)
    names = {n for p in passes for n in table[p]}
    return {
        n: {
            f: statistics.median(table[p].get(n, {}).get(f, 0) for p in passes)
            for f in FIELDS
        }
        for n in names
    }
