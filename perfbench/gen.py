"""Seeded corpus generators for the benchmark workloads.

Every corpus is a pure function of (params, seed): the same seed gives the
same documents byte for byte. The engine only ever receives the generated
DataFrame; the planted structure (which docs are duplicates of which, where
each shared byte run sits) stays here as the ground truth the output checks
are judged against.

Text is lowercase ASCII words separated by single spaces, so the engine's
tokenizer (split on ``[^a-z0-9]+``) sees exactly the generated words and the
5-word shingle Jaccard of a planted near-duplicate can be computed here
exactly.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

VOCAB_SIZE = 4096
# The vocabulary is the same for every seed, so every seed draws text with
# the same word and byte statistics; only the documents change.
_VOCAB_SEED = 0x0B3AC0DE
SEP_BYTES = 6  # engine separator layout: b"\xff\xff" + uint32 doc id
SHINGLE_WORDS = 5


def _vocabulary() -> list[str]:
    rng = np.random.default_rng(_VOCAB_SEED)
    onsets = list("bcdfghjklmnprstvwz") + ["ch", "sh", "th", "st", "tr", "pl"]
    vowels = ["a", "e", "i", "o", "u", "ai", "ou", "ea"]
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(1, 4))
        w = "".join(
            onsets[rng.integers(len(onsets))] + vowels[rng.integers(len(vowels))]
            for _ in range(n)
        )
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


VOCAB = _vocabulary()
# Zipf-like word frequencies (rank + 20 flattens the head, as in web text)
_P = 1.0 / (np.arange(VOCAB_SIZE) + 20.0)
_P /= _P.sum()


def _lengths(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    """``n`` doc lengths spread evenly over [lo, hi] in a seeded order: every
    seed gets the same multiset of lengths, so the same amount of work."""
    return rng.permutation(np.linspace(lo, hi, n).round().astype(int))


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return [VOCAB[i] for i in rng.choice(VOCAB_SIZE, size=n, p=_P)]


def text_of_bytes(rng: np.random.Generator, n_bytes: int) -> str:
    """Random word text cut to exactly ``n_bytes`` bytes."""
    out = " ".join(_words(rng, n_bytes // 3 + 4))
    return out[:n_bytes]


def shingle_set(words: list[str]) -> set[tuple[str, ...]]:
    """The engine's NearDup shingle set: distinct 5-word windows, or the
    whole doc when it has fewer than 5 words."""
    if len(words) < SHINGLE_WORDS:
        return {tuple(words)}
    return {
        tuple(words[i : i + SHINGLE_WORDS])
        for i in range(len(words) - SHINGLE_WORDS + 1)
    }


def jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)


# ---------------------------------------------------------------------------
# NearDup corpus: short web pages with planted exact and near duplicates and
# boilerplate template pages (the hot LSH buckets of real web crawls).
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class NearDupParams:
    n_docs: int
    words_lo: int = 50
    words_hi: int = 400
    exact_share: float = 0.10  # docs that are byte copies of another doc
    near_share: float = 0.10  # docs that are light edits of another doc
    boiler_share: float = 0.15  # template pages: shared body + short tail
    n_templates: int = 3
    template_words: int = 80
    tail_words: int = 3
    near_min_jaccard: float = 0.85  # planted edits keep at least this


@dataclass
class NearDupCorpus:
    docs: pd.DataFrame  # doc_id, url, text
    # planted pairs (a, b, kind): each must end in one cluster
    pairs: pd.DataFrame
    # group label per doc: docs of one planted group share a label, every
    # other doc has a label of its own; a cluster may hold one label only
    group: np.ndarray
    roles: dict[str, float] = field(default_factory=dict)
    near_jaccard_min: float = 1.0


def neardup_corpus(p: NearDupParams, seed: int) -> NearDupCorpus:
    rng = np.random.default_rng([seed, 1])
    n = p.n_docs
    n_exact = int(round(p.exact_share * n))
    n_near = int(round(p.near_share * n))
    n_boiler = int(round(p.boiler_share * n))
    n_unique = n - n_exact - n_near - n_boiler
    if n_unique < 1:
        raise ValueError("shares leave no unique documents")

    texts: list[list[str]] = []
    role: list[str] = []
    group: list[int] = []
    pairs: list[tuple[int, int, str]] = []  # in generation order, remapped below
    for i, ln in enumerate(_lengths(rng, n_unique, p.words_lo, p.words_hi)):
        texts.append(_words(rng, int(ln)))
        role.append("unique")
        group.append(i)
    bases = rng.integers(0, n_unique, size=n_exact + n_near)
    for base in bases[:n_exact]:
        pairs.append((int(base), len(texts), "exact"))
        texts.append(list(texts[base]))
        role.append("exact_dup")
        group.append(int(base))
    near_min = 1.0
    for base in bases[n_exact:]:
        src = texts[base]
        # one appended word always; substitutions (spaced >= 5 words apart so
        # each costs exactly 5 shingles) while the Jaccard stays above the floor
        n_sub = max(0, len(src) // 150)
        while True:
            w = list(src) + _words(rng, 1)
            if n_sub:
                slots = rng.choice(len(src) // 5, size=n_sub, replace=False) * 5
                for s, new in zip(slots, _words(rng, n_sub)):
                    w[int(s)] = new
            j = jaccard(src, w)
            if j >= p.near_min_jaccard or n_sub == 0:
                break
            n_sub -= 1
        near_min = min(near_min, j)
        pairs.append((int(base), len(texts), "near"))
        texts.append(w)
        role.append("near_dup")
        group.append(int(base))
    templates = [_words(rng, p.template_words) for _ in range(p.n_templates)]
    first_of: dict[int, int] = {}
    for k in range(n_boiler):
        t = k % p.n_templates
        i = len(texts)
        texts.append(templates[t] + _words(rng, p.tail_words))
        role.append("boilerplate")
        group.append(n + t)
        if t in first_of:
            pairs.append((first_of[t], i, "boilerplate"))
            near_min = min(near_min, jaccard(texts[first_of[t]], texts[i]))
        else:
            first_of[t] = i

    # shuffle so duplicates are not adjacent in doc_id / partition order
    perm = rng.permutation(n)  # perm[gen_index] = doc_id
    order = np.argsort(perm)
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "url": [f"https://site{int(d) % 97}.example/s{seed}/p{int(d)}" for d in range(n)],
            "text": [" ".join(texts[g]) for g in order],
        }
    )
    pp = pd.DataFrame(pairs, columns=["a", "b", "kind"])
    pp["a"], pp["b"] = perm[pp["a"].to_numpy()], perm[pp["b"].to_numpy()]
    grp = np.empty(n, np.int64)
    grp[perm] = np.asarray(group, np.int64)
    roles = pd.Series(role).value_counts(normalize=True).round(4).to_dict()
    return NearDupCorpus(docs, pp, grp, roles, float(near_min))


# ---------------------------------------------------------------------------
# ExactSubstr corpus: longer docs with shared byte runs planted below, at and
# well above the length threshold, across shard boundaries, and a boilerplate
# header shared by many docs.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ExactParams:
    n_docs: int
    threshold: int  # the engine's length threshold the runs are placed around
    words_lo: int = 300
    words_hi: int = 1200
    below_runs: int = 30  # runs of 50..80 bytes: must survive
    at_runs: int = 30  # runs of exactly ``threshold`` bytes: removed
    above_runs: int = 60  # runs of 150..1500 bytes: removed
    straddle_runs: int = 8  # above-threshold runs with a copy on a shard seam
    boiler_share: float = 0.2  # docs opening with one of a few shared headers
    n_headers: int = 3
    header_bytes: int = 300
    copies_lo: int = 2
    copies_hi: int = 4


@dataclass
class ExactCorpus:
    docs: pd.DataFrame  # doc_id, url, text
    corpus: bytes  # the engine's byte layout: sep + uid + text per doc
    text_start: np.ndarray  # global offset of each doc's first text byte
    # planted run copies: (start, end) global offsets, kind, run id
    runs: pd.DataFrame
    shard_bytes: int
    roles: dict[str, float] = field(default_factory=dict)

    @property
    def total_bytes(self) -> int:
        return len(self.corpus)


def layout(texts: list[bytes]) -> tuple[bytes, np.ndarray]:
    """Global byte layout the engine uses for ExactSubstr (doc_id order)."""
    parts = []
    starts = np.empty(len(texts), np.int64)
    off = 0
    for uid, t in enumerate(texts):
        parts.append(b"\xff\xff" + int(uid).to_bytes(4, "little") + t)
        starts[uid] = off + SEP_BYTES
        off += SEP_BYTES + len(t)
    return b"".join(parts), starts


def exact_corpus(p: ExactParams, seed: int, shard_bytes_for) -> ExactCorpus:
    """``shard_bytes_for(total_bytes)`` gives the shard width the engine
    will use, so straddling copies can be planted across real seams."""
    rng = np.random.default_rng([seed, 2])
    n = p.n_docs
    texts = [
        bytearray(" ".join(_words(rng, int(ln))).encode())
        for ln in _lengths(rng, n, p.words_lo, p.words_hi)
    ]
    lens = np.array([len(t) for t in texts], np.int64)
    starts = np.concatenate([[0], np.cumsum(lens + SEP_BYTES)[:-1]]) + SEP_BYTES
    total = int(lens.sum() + SEP_BYTES * n)
    shard_bytes = int(shard_bytes_for(total))
    busy: list[list[tuple[int, int]]] = [[] for _ in range(n)]

    def free(d: int, a: int, b: int) -> bool:
        # one byte of margin keeps copies of different runs from touching
        return 0 <= a and b <= lens[d] and all(
            b + 1 <= x or y + 1 <= a for x, y in busy[d]
        )

    rows: list[tuple[int, int, str, int]] = []
    role = np.array(["plain"] * n, dtype=object)

    def place(run: bytes, kind: str, rid: int, d: int, a: int) -> None:
        texts[d][a : a + len(run)] = run
        busy[d].append((a, a + len(run)))
        g = int(starts[d]) + a
        rows.append((g, g + len(run), kind, rid))

    def plant(run: bytes, kind: str, rid: int, copies: int) -> None:
        placed = 0
        while placed < copies:
            d = int(rng.integers(n))
            a = int(rng.integers(0, max(1, lens[d] - len(run))))
            if free(d, a, a + len(run)):
                place(run, kind, rid, d, a)
                placed += 1

    # boilerplate headers first: they sit at offset 0 of their docs
    headers = [text_of_bytes(rng, p.header_bytes).encode() for _ in range(p.n_headers)]
    for d in rng.choice(n, size=int(round(p.boiler_share * n)), replace=False):
        h = int(rng.integers(p.n_headers))
        place(headers[h], "header", h, int(d), 0)
        role[d] = "boilerplate"
    rid = p.n_headers
    # straddles: one copy centred on a shard seam, one elsewhere
    seams = np.arange(shard_bytes, total, shard_bytes)
    for s in rng.permutation(seams)[: p.straddle_runs]:
        run = text_of_bytes(rng, int(rng.integers(300, 900))).encode()
        d = int(np.searchsorted(starts, s, side="right") - 1)
        a = int(s - starts[d] - len(run) // 2)
        if not free(d, a, a + len(run)):
            continue
        place(run, "straddle", rid, d, a)
        role[d] = "straddle"
        plant(run, "straddle", rid, 1)
        rid += 1
    kinds = (
        [("above", int(rng.integers(150, 1501))) for _ in range(p.above_runs)]
        + [("at", p.threshold) for _ in range(p.at_runs)]
        + [("below", int(rng.integers(50, 81))) for _ in range(p.below_runs)]
    )
    for kind, ln in kinds:
        run = text_of_bytes(rng, ln).encode()
        plant(run, kind, rid, int(rng.integers(p.copies_lo, p.copies_hi + 1)))
        rid += 1

    runs = pd.DataFrame(rows, columns=["start", "end", "kind", "run"])
    for kind in ("above", "at", "below"):
        docs_k = np.searchsorted(starts, runs.loc[runs["kind"] == kind, "start"], "right") - 1
        role[np.setdiff1d(docs_k, np.flatnonzero(role != "plain"))] = f"run_{kind}"
    final = [bytes(t) for t in texts]
    corpus, text_start = layout(final)
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "url": [f"https://site{d % 89}.example/s{seed}/d{d}" for d in range(n)],
            "text": [t.decode("ascii") for t in final],
        }
    )
    roles = pd.Series(role).value_counts(normalize=True).round(4).to_dict()
    return ExactCorpus(docs, corpus, text_start, runs, shard_bytes, roles)
