"""Seeded inputs for the three workloads and the reference results they are
checked against.

Everything here is plain numpy / pyarrow / Python: the reference results are
computed apart from the program under test, from the same generated inputs,
on every run. Nothing is read from disk that a previous run wrote.
"""

from __future__ import annotations

from fractions import Fraction

import numpy as np
import pyarrow as pa

ZIPF_S = 1.1
EVENT_TYPES = np.array(["view", "click", "cart", "buy"])
TS0_US = 1_700_000_000_000_000
TS_STEP_US = 1_000
# +-5 s of jitter against a 1 ms step: an event can arrive up to ~5000 events
# after a later-stamped one, so last-writer-wins by (ts_us, event_id) differs
# from arrival order for many keys.
TS_JITTER_US = 5_000_000


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...) so inputs do not depend on
    how many of them a run ends up using."""
    return np.random.default_rng([seed, *stream])


class KeySpace:
    """Bounded Zipf(s) over ``n_keys`` ranks, mapped to key ids by a seeded
    permutation so hot keys are not the small ids. Ids ``>= n_keys`` are never
    written: they are the lookup misses."""

    def __init__(self, seed: int, n_keys: int, s: float = ZIPF_S) -> None:
        self.n_keys = n_keys
        w = np.arange(1, n_keys + 1, dtype=np.float64) ** -s
        cdf = np.cumsum(w)
        self._cdf = cdf / cdf[-1]
        self._ids = rng_for(seed, 0).permutation(n_keys).astype(np.int64)

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        ranks = np.searchsorted(self._cdf, rng.random(n), side="right")
        return self._ids[np.minimum(ranks, self.n_keys - 1)]

    def lookup_keys(self, rng: np.random.Generator, n: int, miss_share: float) -> np.ndarray:
        """``n`` lookup keys, exactly ``round(n * miss_share)`` of them misses
        at seeded positions: a miss reads less than a hit, so a miss count
        that varied with the seed would move the lookup median."""
        keys = self.draw(rng, n)
        miss = rng.permutation(n)[: round(n * miss_share)]
        keys[miss] = self.n_keys + rng.integers(0, self.n_keys, len(miss))
        return keys


def events(rng: np.random.Generator, keys: KeySpace, n: int, eid0: int) -> pa.Table:
    """``n`` keyed messages with event ids ``eid0 .. eid0+n-1``."""
    eid = np.arange(eid0, eid0 + n, dtype=np.int64)
    ts = TS0_US + eid * TS_STEP_US + rng.integers(-TS_JITTER_US, TS_JITTER_US, n)
    return pa.table(
        {
            "user_id": keys.draw(rng, n),
            "ts_us": ts.astype(np.int64),
            "event_id": eid,
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.random(n) * 1000.0, 3),
        }
    )


class LatestTable:
    """Reference state table: per key the row with the largest
    ``(ts_us, event_id)`` over every event merged so far, kept as numpy
    columns sorted by key."""

    COLS = ("user_id", "ts_us", "event_id", "event_type", "value")

    def __init__(self) -> None:
        self.cols = {c: np.array([], dtype=object if c == "event_type" else np.int64) for c in self.COLS}
        self.cols["value"] = np.array([], dtype=np.float64)

    def merge(self, table: pa.Table) -> None:
        new = {c: table.column(c).to_numpy(zero_copy_only=False) for c in self.COLS}
        allc = {c: np.concatenate([self.cols[c], new[c]]) for c in self.COLS}
        order = np.lexsort((allc["event_id"], allc["ts_us"], allc["user_id"]))
        k = allc["user_id"][order]
        last = np.ones(len(k), dtype=bool)
        last[:-1] = k[1:] != k[:-1]
        pick = order[last]
        self.cols = {c: allc[c][pick] for c in self.COLS}

    def copy(self) -> LatestTable:
        out = LatestTable()
        out.cols = dict(self.cols)  # merge replaces the arrays, never writes into them
        return out

    def __len__(self) -> int:
        return len(self.cols["user_id"])

    def get(self, key: int) -> tuple | None:
        keys = self.cols["user_id"]
        i = int(np.searchsorted(keys, key))
        if i == len(keys) or keys[i] != key:
            return None
        return tuple(_py(self.cols[c][i]) for c in self.COLS)

    def rows(self) -> list[tuple]:
        return list(zip(*(map(_py, self.cols[c]) for c in self.COLS)))


def _py(v):
    return v.item() if isinstance(v, np.generic) else v


# -- documents ---------------------------------------------------------------

# Fitted to the sf0.1 ``documents`` table (5,000 rows) that the repository's
# dedup tests read: its 30 words, each drawn with the same probability (every
# word occurs 8,829-9,182 times there), lengths uniform on 10-100 tokens, and
# 5% of documents (250) an earlier document, any one, with " dup" appended.
VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key line merge order part query row scan "
    "slow small sort spark stream table the value vector window".split()
)
DOC_TOKENS = (10, 100)
DUP_SHARE = 0.05
DUP_TOKEN = "dup"
SHINGLE_K = 3
MIN_JACCARD = Fraction(1, 2)


class DocSource:
    """Documents shaped like the sf0.1 ``documents`` table: 10-100 tokens
    drawn uniformly from its 30 words. A ``dup_share`` of them copy an earlier
    document and append one token, so they pair with it at a Jaccard near 1;
    the rest are fresh text, which pairs with nothing above the threshold."""

    def __init__(self, seed: int, stream: int) -> None:
        self.rng = rng_for(seed, stream)

    def fresh_text(self) -> str:
        n = int(self.rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1))
        return " ".join(VOCAB[self.rng.integers(0, len(VOCAB), n)])

    @staticmethod
    def near_copy(text: str) -> str:
        return f"{text} {DUP_TOKEN}"

    def docs(self, n: int, id0: int, pool: list[str], dup_share: float = DUP_SHARE) -> list[tuple[int, str]]:
        out = []
        for i in range(n):
            if pool and self.rng.random() < dup_share:
                text = self.near_copy(pool[int(self.rng.integers(0, len(pool)))])
            else:
                text = self.fresh_text()
            pool.append(text)
            out.append((id0 + i, text))
        return out


def shingles(text: str) -> frozenset[str]:
    toks = text.split(" ")
    return frozenset(" ".join(toks[i : i + SHINGLE_K]) for i in range(len(toks) - SHINGLE_K + 1))


def jaccard(a: frozenset, b: frozenset) -> Fraction:
    inter = len(a & b)
    return Fraction(inter, len(a) + len(b) - inter)


class ShingleIndex:
    """Reference near-duplicate index: exact shingle sets and an inverted
    list, searched by brute overlap counting."""

    def __init__(self) -> None:
        self.sets: dict[int, frozenset] = {}
        self.texts: dict[int, str] = {}
        self.inv: dict[str, list[int]] = {}

    def add(self, docs: list[tuple[int, str]]) -> None:
        for doc_id, text in docs:
            s = shingles(text)
            self.sets[doc_id] = s
            self.texts[doc_id] = text
            for sh in s:
                self.inv.setdefault(sh, []).append(doc_id)

    def pairs(self, batch: list[tuple[int, str]]) -> set[tuple[int, int]]:
        """Every ``(doc_a, doc_b)``, ``doc_a < doc_b``, at or above the
        threshold, with at least one side in ``batch``: batch against the
        index and batch against itself."""
        bsets = {d: shingles(t) for d, t in batch}
        out = set()
        for d, s in bsets.items():
            counts: dict[int, int] = {}
            for sh in s:
                for o in self.inv.get(sh, ()):
                    counts[o] = counts.get(o, 0) + 1
            for o, inter in counts.items():
                if Fraction(inter, len(s) + len(self.sets[o]) - inter) >= MIN_JACCARD:
                    out.add((min(d, o), max(d, o)))
            for e, t in bsets.items():
                if d < e and jaccard(s, t) >= MIN_JACCARD:
                    out.add((d, e))
        return out


def check_pairs(reported: list[tuple], want: set[tuple[int, int]], texts: dict[int, str]) -> list[str]:
    """Mismatches between ``query_dedup`` output rows ``(doc_a, doc_b,
    n_inter, jaccard)`` and the reference pair set. Each reported pair has
    its Jaccard recomputed from the two texts."""
    problems = []
    got = set()
    for a, b, n_inter, jac in reported:
        got.add((a, b))
        if a not in texts or b not in texts:
            problems.append(f"pair ({a},{b}) names a document that was never indexed or queried")
            continue
        sa, sb = shingles(texts[a]), shingles(texts[b])
        exact = jaccard(sa, sb)
        if exact < MIN_JACCARD:
            problems.append(f"pair ({a},{b}) reported at {jac} but its Jaccard is {float(exact):.6f}")
        if n_inter != len(sa & sb) or abs(jac - round(float(exact), 6)) > 1e-9:
            problems.append(f"pair ({a},{b}) reported n_inter={n_inter} jaccard={jac}, expected {len(sa & sb)} {float(exact):.6f}")
    if len(got) != len(reported):
        problems.append(f"{len(reported) - len(got)} duplicate pair rows")
    for p in sorted(want - got)[:5]:
        problems.append(f"pair {p} above the threshold was not reported")
    for p in sorted(got - want)[:5]:
        problems.append(f"pair {p} was reported but is not a batch pair above the threshold")
    return problems
