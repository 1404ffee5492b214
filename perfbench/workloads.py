"""The benchmark's workloads: seeded inputs, one closed-loop pass each, and
the check every pass's output must meet.

Each workload touches the engine only through its public API. A pass is one
client request run to a materialized result; the next starts only after the
previous one returned and was checked.
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import gen
from host import CORES

THRESHOLD = 100  # ExactSubstr length threshold (the reference default)
RECALL_MIN = 0.99  # planted near-dup pairs per cluster (BASELINE recall floor)
DOCS_SCHEMA = "doc_id long, url string, text string"


def _digest(*frames: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for f in frames:
        f = f.sort_values(list(f.columns), ignore_index=True)
        for c in f.columns:
            col = f[c]
            h.update(c.encode())
            if col.dtype == object:
                for v in col:
                    h.update(v if isinstance(v, bytes) else str(v).encode())
                    h.update(b"\0")
            else:
                h.update(np.ascontiguousarray(col.to_numpy()).tobytes())
    return h.hexdigest()[:16]


@dataclass
class PassResult:
    wall: float  # pass_s sample
    latencies: list[float]  # per-request walls (query_p* samples)
    problems: list[str] = field(default_factory=list)
    ops: int = 1  # operations attempted in the pass
    failed_ops: int = 0
    digest: str = ""
    lookup_jobs: int = 0  # Spark jobs of the pass's lookup calls


def _group_jobs(spark) -> int:
    """Spark jobs started so far in the current job group (0 outside one)."""
    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    return len(sc.statusTracker().getJobIdsForGroup(group)) if group else 0


def _engine_config(shard_bytes: int | None = None):
    from deduplicate_text_datasets_spark.config import (
        EngineConfig,
        ExactSubstrConfig,
        MinHashConfig,
    )

    exact = (
        ExactSubstrConfig(length_threshold=THRESHOLD, shard_bytes=shard_bytes)
        if shard_bytes
        else ExactSubstrConfig(length_threshold=THRESHOLD)
    )
    # The hot-bucket cap is scaled down with the corpus: the template
    # clusters (~40 pages here, 10^4+ at web scale) must exceed it for
    # the grid-salted join to run in the distributed plan.
    return EngineConfig(exact=exact, minhash=MinHashConfig(max_bucket_size=32))


def _shard_bytes(total: int) -> int:
    from deduplicate_text_datasets_spark.sources.corpus import auto_shard_bytes

    return auto_shard_bytes(total, CORES)


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------


def check_clusters(c: gen.NearDupCorpus, out: pd.DataFrame) -> list[str]:
    bad: list[str] = []
    n = len(c.docs)
    out = out.sort_values("doc_id", ignore_index=True)
    if len(out) != n or not np.array_equal(out["doc_id"].to_numpy(), np.arange(n)):
        return [f"clusters: {len(out)} rows for {n} docs"]
    cid = out["cluster_id"].to_numpy(np.int64)
    if (cid > np.arange(n)).any() or (cid[cid] != cid).any():
        bad.append("clusters: cluster_id is not the minimum member")
    keep = out["keep"].to_numpy(bool)
    if not np.array_equal(keep, cid == np.arange(n)) or np.any(
        out["is_duplicate"].to_numpy(bool) == keep
    ):
        bad.append("clusters: keep/is_duplicate disagree with cluster_id")
    a, b = c.pairs["a"].to_numpy(), c.pairs["b"].to_numpy()
    same = cid[a] == cid[b]
    recall = float(same.mean()) if len(same) else 1.0
    if recall < RECALL_MIN:
        bad.append(f"clusters: planted-pair recall {recall:.4f} < {RECALL_MIN}")
    exact = (c.pairs["kind"] == "exact").to_numpy()
    if not same[exact].all():
        bad.append("clusters: an exact-duplicate pair is split")
    # no false merge: a cluster holds docs of one planted group only
    labels = pd.DataFrame({"cid": cid, "g": c.group}).groupby("cid")["g"].nunique()
    if (labels > 1).any():
        bad.append(f"clusters: {int((labels > 1).sum())} clusters merge planted groups")
    return bad


def check_simhash(c: gen.NearDupCorpus, out: pd.DataFrame, k: int) -> list[str]:
    bad: list[str] = []
    a, b, h = (out[x].to_numpy(np.int64) for x in ("a", "b", "hamming"))
    if (a >= b).any() or (h < 0).any() or (h > k).any():
        bad.append("simhash: pair not ordered or hamming out of range")
    if out.duplicated(["a", "b"]).any():
        bad.append("simhash: duplicate pairs")
    ex = c.pairs[c.pairs["kind"] == "exact"]
    key = set(zip(np.minimum(a, b)[h == 0].tolist(), np.maximum(a, b)[h == 0].tolist()))
    lo = np.minimum(ex["a"], ex["b"]).tolist()
    hi = np.maximum(ex["a"], ex["b"]).tolist()
    missing = sum((x, y) not in key for x, y in zip(lo, hi) if x != y)
    if missing:
        bad.append(f"simhash: {missing} exact-duplicate pairs missing")
    return bad


def check_exactsubstr(
    c: gen.ExactCorpus, ranges: pd.DataFrame, deduped: pd.DataFrame
) -> list[str]:
    bad: list[str] = []
    s = ranges["start"].to_numpy(np.int64)
    e = ranges["end"].to_numpy(np.int64)
    order = np.argsort(s)
    s, e = s[order], e[order]
    if (e <= s).any() or (s[1:] < e[:-1]).any() or (len(s) and (s[0] < 0 or e[-1] > c.total_bytes)):
        return ["ranges: not disjoint, empty or out of the corpus"]
    delta = np.zeros(c.total_bytes + 1, np.int32)
    np.add.at(delta, s, 1)
    np.add.at(delta, e, -1)
    mask = np.cumsum(delta[:-1]) > 0
    runs = c.runs
    copies = runs.groupby(["kind", "run"])["start"].transform("size")
    for kind in ("above", "at", "straddle", "header"):
        sel = runs[(runs["kind"] == kind) & (copies >= 2)]
        miss = sum(not mask[a:z].all() for a, z in zip(sel["start"], sel["end"]))
        if miss:
            bad.append(f"ranges: {miss} planted {kind} run copies not removed")
    sel = runs[runs["kind"] == "below"]
    hit = sum(mask[a:z].any() for a, z in zip(sel["start"], sel["end"]))
    if hit:
        bad.append(f"ranges: {hit} sub-threshold run copies touched")
    deduped = deduped.sort_values("doc_id", ignore_index=True)
    if len(deduped) != len(c.docs):
        return bad + [f"deduped: {len(deduped)} rows for {len(c.docs)} docs"]
    corpus = np.frombuffer(c.corpus, np.uint8)
    kept = removed = 0
    wrong = 0
    for d, out in zip(deduped["doc_id"], deduped["deduped"]):
        a = int(c.text_start[d])
        z = a + len(c.docs["text"].iat[d])
        keep = ~mask[a:z]
        if bytes(out) != corpus[a:z][keep].tobytes():
            wrong += 1
        kept += len(out)
        removed += int((~keep).sum())
    if wrong:
        bad.append(f"deduped: {wrong} docs differ from the splice of the ranges")
    text_bytes = int(c.docs["text"].str.len().sum())
    if kept + removed != text_bytes:
        bad.append(f"deduped: kept {kept} + removed {removed} != input {text_bytes}")
    return bad


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    name = ""
    # Spark jobs one untraced default-guard pass may start at this size: a
    # pass that starts more took a slower plan than intended (a driver
    # twin whose memo was lost falls back to its distributed plan)
    max_jobs_per_pass = 0
    min_passes = 2  # measured default-guard passes per run, even past --seconds

    def setup(self, spark, seed: int) -> None:
        """Generate the corpus from the seed and cache it as the input."""
        raise NotImplementedError

    def regime_problems(self, jobs: int) -> list[str]:
        if jobs > self.max_jobs_per_pass:
            return [f"{jobs} jobs per pass, above the {self.max_jobs_per_pass} expected"]
        return []

    def trace_problems(self, spans: dict) -> list[str]:
        """Checks on the traced run's span table: each distributed plan the
        workload stands for must have run, so a renamed or ignored guard
        cannot measure the driver twin in its place."""
        bad = []
        for span, f in self.dist_spans.items():
            got = spans.get(f"dist.{span}", {}).get(f, 0)
            twin = spans.get(span, {}).get(f, 0)
            if got <= twin:
                bad.append(f"dist.{span}.{f} = {got}, not above the default pass's {twin}")
        return bad

    # span -> a field that the distributed plan raises above the driver
    # twin's (Spark jobs, or shuffle bytes where the twin shuffles nothing)
    dist_spans: dict[str, str] = {}

    def recache(self, spark) -> None:
        """Drop every cached frame (operators' persists made outside a
        cache scope survive a pass and Spark reuses them for an identical
        plan), then cache only the input again."""
        spark.catalog.clearCache()
        self.docs.cache().count()

    def run_pass(self, spark, dist: bool = False, warm: bool = False) -> PassResult:
        """One checked pass; ``dist`` when every size guard is at 0, ``warm``
        for the warm-up pass that ends a set-up."""
        raise NotImplementedError

    def roles(self) -> dict:
        return {}


class NearDupWeb(Workload):
    name = "neardup_web"
    params = gen.NearDupParams(n_docs=800)
    max_jobs_per_pass = 7
    # CC star rounds (the default pass takes the driver CC twin) and the
    # grid-salted join; distributed verify runs in the same pass
    dist_spans = {"connected_components": "jobs", "salted_join.pairs": "shuffle_write_bytes"}

    def setup(self, spark, seed: int) -> None:
        self.corpus = gen.neardup_corpus(self.params, seed)
        self.cfg = _engine_config()
        self.docs = spark.createDataFrame(self.corpus.docs, DOCS_SCHEMA)
        self.recache(spark)

    def roles(self) -> dict:
        return {
            "docs": self.corpus.roles,
            "planted_pairs": self.corpus.pairs["kind"].value_counts().to_dict(),
            "near_jaccard_min": round(self.corpus.near_jaccard_min, 4),
        }

    def run_pass(self, spark, dist: bool = False, warm: bool = False) -> PassResult:
        from deduplicate_text_datasets_spark.operators.simhash import simhash_pairs
        from deduplicate_text_datasets_spark.plans.pipeline import neardup_clusters

        t = time.perf_counter()
        clusters = neardup_clusters(self.docs, self.cfg).toPandas()
        pairs = simhash_pairs(self.docs, self.cfg.simhash).toPandas()
        wall = time.perf_counter() - t
        bad = check_clusters(self.corpus, clusters)
        bad += check_simhash(self.corpus, pairs, self.cfg.simhash.hamming_k)
        dg = _digest(clusters[["doc_id", "cluster_id"]], pairs)
        return PassResult(wall, [wall], bad, failed_ops=int(bool(bad)), digest=dg)


class ExactSubstrBytes(Workload):
    """ExactSubstr end to end: remove the duplicated substrings, build and
    write the suffix-array index of the same corpus, then look it up with
    count-occurrences calls of 20 probes each (half present, half absent)
    and find-training-data calls on a ~20 kB query each."""

    name = "exactsubstr_bytes"
    params = gen.ExactParams(n_docs=120, threshold=THRESHOLD)
    max_jobs_per_pass = 35
    # distributed offsets, interval join and two-branch strike
    dist_spans = {
        "corpus.with_offsets": "shuffle_write_bytes",
        "intervals.coalesce_positions": "shuffle_write_bytes",
        "strike.apply_removals": "shuffle_write_bytes",
    }
    probes_per_call = 20
    probe_bytes = 60
    query_bytes = 20_000
    # Lookup calls per measured pass, in order. Over a run's two passes, 12
    # count calls and 4 find-training-data calls: p50 falls among the count
    # calls clear of the slower first call of each pass, and p90 among the
    # find-training-data calls.
    lookups = ("count", "count", "count", "ftd") * 2
    warm_lookups = ("count", "count", "ftd")  # a set-up's warm-up pass

    def setup(self, spark, seed: int) -> None:
        self.corpus = gen.exact_corpus(self.params, seed, _shard_bytes)
        self.cfg = _engine_config(self.corpus.shard_bytes)
        self.docs = spark.createDataFrame(self.corpus.docs, DOCS_SCHEMA)
        self.rng = np.random.default_rng([seed, 3])
        self.path = os.path.join(os.environ["PERFBENCH_WORK"], "sa_index")
        self.recache(spark)

    def roles(self) -> dict:
        return {
            "docs": self.corpus.roles,
            "run_copies": self.corpus.runs["kind"].value_counts().to_dict(),
            "corpus_bytes": self.corpus.total_bytes,
            "shard_bytes": self.corpus.shard_bytes,
            "probes_per_call": self.probes_per_call,
            "query_bytes": self.query_bytes,
        }

    def _text_slice(self, n: int) -> bytes:
        texts = self.corpus.docs["text"]
        while True:
            d = int(self.rng.integers(len(texts)))
            t = texts.iat[d]
            if len(t) > n:
                a = int(self.rng.integers(len(t) - n))
                return t[a : a + n].encode()

    def _probes(self) -> list[tuple[int, bytes]]:
        out = []
        for i in range(self.probes_per_call):
            p = bytearray(self._text_slice(self.probe_bytes))
            if i % 2:  # absent: 'Z' never occurs in the generated text
                p[self.probe_bytes // 2] = ord("Z")
            out.append((i, bytes(p)))
        return out

    def _query(self) -> bytes:
        parts, n = [], 0
        while n < self.query_bytes:
            ln = int(self.rng.integers(100, 500))
            seg = (
                self._text_slice(ln)
                if self.rng.random() < 0.5
                else gen.text_of_bytes(self.rng, ln).encode()
            )
            parts.append(seg)
            n += len(seg) + 1
        return b"Z".join(parts)[: self.query_bytes]

    def _check_counts(self, probes, out: pd.DataFrame) -> list[str]:
        from deduplicate_text_datasets_spark.oracle.pyref import count_occurrences

        got = dict(zip(out["query_id"].tolist(), out["count"].tolist()))
        wrong = [
            qid
            for qid, p in probes
            if got.get(qid) != count_occurrences(self.corpus.corpus, p)
        ]
        return [f"count_occurrences: {len(wrong)} of {len(probes)} probes wrong"] if wrong else []

    def _check_ftd(self, q: bytes, out: pd.DataFrame) -> list[str]:
        qpos = out["qpos"].to_numpy(np.int64)
        if len(out) != len(q) or not np.array_equal(np.sort(qpos), np.arange(len(q))):
            return [f"find_training_data: {len(out)} rows for a {len(q)}-byte query"]
        ml = dict(zip(qpos.tolist(), out["match_len"].tolist()))
        corpus = self.corpus.corpus
        wrong = 0
        for i in self.rng.choice(len(q), size=48, replace=False).tolist():
            m = ml[i]
            if q[i : i + m] not in corpus or (
                i + m < len(q) and q[i : i + m + 1] in corpus
            ):
                wrong += 1
        return [f"find_training_data: {wrong} of 48 sampled positions wrong"] if wrong else []

    def run_pass(self, spark, dist: bool = False, warm: bool = False) -> PassResult:
        """The pass wall runs from the input DataFrame to the collected
        ranges and deduped text plus the written index; each lookup call is
        timed on its own. A distributed pass stops at the deduped text: the
        index build has no distributed plan of its own beyond the offsets,
        which ``exactsubstr_dedup`` already runs."""
        from deduplicate_text_datasets_spark.operators.sa_index import (
            build_suffix_index,
            count_occurrences_indexed,
            find_training_data_indexed,
            read_suffix_index,
            write_suffix_index,
        )
        from deduplicate_text_datasets_spark.plans.pipeline import exactsubstr_dedup

        t = time.perf_counter()
        ranges, deduped = exactsubstr_dedup(self.docs, self.cfg)
        rp = ranges.toPandas()
        dp = deduped.toPandas()
        if not dist:
            write_suffix_index(build_suffix_index(self.docs, self.cfg.exact), self.path)
        wall = time.perf_counter() - t
        bad = check_exactsubstr(self.corpus, rp, dp)
        dg = _digest(rp[["start", "end"]], dp[["doc_id", "deduped"]])
        res = PassResult(wall, [], bad, failed_ops=int(bool(bad)), digest=dg)
        if dist:
            return res

        res.lookup_jobs = -_group_jobs(spark)
        index = read_suffix_index(spark, self.path)
        n_shards = -(-self.corpus.total_bytes // self.corpus.shard_bytes)
        if index.count() != n_shards:
            res.problems.append(f"index: shard rows != {n_shards}")
            res.failed_ops += 1
        for call in self.warm_lookups if warm else self.lookups:
            if call == "count":
                probes = self._probes()
                t = time.perf_counter()
                out = count_occurrences_indexed(index, probes).toPandas()
                res.latencies.append(time.perf_counter() - t)
                bad = self._check_counts(probes, out)
            else:
                q = self._query()
                t = time.perf_counter()
                out = find_training_data_indexed(index, [(0, q)]).toPandas()
                res.latencies.append(time.perf_counter() - t)
                bad = self._check_ftd(q, out)
            res.ops += 1
            res.failed_ops += bool(bad)
            res.problems += bad
        res.lookup_jobs += _group_jobs(spark)
        return res


WORKLOADS = {w.name: w for w in (NearDupWeb, ExactSubstrBytes)}
