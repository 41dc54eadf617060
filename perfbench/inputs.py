"""Seeded inputs: query streams drawn from the corpus generator's vocabulary.

Everything here is a pure function of the seed. Query term popularity is
Zipf over the generator's non-unique vocabulary (~350 terms, more than the
engine's 64-term decode memo), ranked in one fixed shuffled order so that
hot, common and mid-frequency terms are all popular with queries and every
seed sees the same popularity ranking. Cold terms are
the generator's one-per-document ``uid<hex>`` terms, each used once per
run; absent terms never occur in any document.

Request blocks have fixed kind counts, shuffled within the block, so the
share of each latency mode is exact in every run and the reported
percentiles sit inside a mode, never on the boundary between two.
"""

from __future__ import annotations

import hashlib

import numpy as np

from edgesearch_spark import corpus as _corpus
from edgesearch_spark.api import build_query_string
from edgesearch_spark.oracle import Query

ZIPF_S = 1.1
K = 10  # top-k size for library (topk) and batch queries

# kind -> count in one block. Fast modes: malformed, too_many,
# absent_require (no doc fetch). Cold mode: cold (a uid term never asked
# before). The rest are warm: every vocabulary term is fetched during
# warm-up, so they pay the kernel and the doc fetch only.
SERVE_BLOCK = {
    "bool": 5, "bm25": 4, "page": 2, "exclude_only": 1, "absent_contain": 1,
    "default": 1, "cold": 3, "absent_require": 1, "malformed": 1, "too_many": 1,
}
LIVE_BLOCK = {
    "bool": 2, "bm25": 1, "page": 1, "exclude_only": 1, "absent_contain": 1,
    "cold": 1, "absent_require": 1, "malformed": 1, "too_many": 1,
}
SCORED_KINDS = ("bm25", "page")
# top-k kinds, all over warm terms (the library caller's kernel path):
# require+contain ("and") and contain-only ("or")
TOPK_BLOCK = {"and": 80, "or": 220}


def sub_seed(seed: int, label: str) -> int:
    """A 31-bit seed for one input stream, derived from the run's seed.

    The run's seed may be any integer; the corpus generator overflows on
    seeds much above 2**32 and numpy's generators refuse negative ones."""
    digest = hashlib.sha256(f"{seed}/{label}".encode()).digest()
    return int.from_bytes(digest[:4], "big") >> 1


def generator_vocabulary() -> list[str]:
    """Every token the corpus generator emits except the per-doc uids."""
    terms = [t for lang in _corpus.LANGS for t in _corpus._KEYWORDS[lang]]
    return list(dict.fromkeys(terms + _corpus._COMMON + _corpus._MID))


class QueryMix:
    """Deterministic request, top-k and batch query streams for one seed.

    ``cold_ids`` bounds the uid terms used as cold terms: every id below it
    exists in the index the stream is served from."""

    def __init__(self, seed: int, cold_ids: int):
        vocab = generator_vocabulary()
        self.vocab = [vocab[i] for i in np.random.default_rng(0).permutation(len(vocab))]
        self.rng = np.random.default_rng(sub_seed(seed, "queries"))
        w = 1.0 / np.arange(1, len(self.vocab) + 1) ** ZIPF_S
        self.p = w / w.sum()
        self._cold = iter(self.rng.permutation(cold_ids).tolist())
        self._absent = 0

    def terms(self, n: int) -> list[str]:
        idx = self.rng.choice(len(self.vocab), size=n, replace=False, p=self.p)
        return [self.vocab[i] for i in idx]

    def cold_term(self) -> str:
        return f"uid{next(self._cold):08x}"

    def absent_term(self) -> str:
        self._absent += 1
        return f"zq{int(self.rng.integers(1 << 40)):x}x{self._absent}"

    def _query(self, kind: str) -> Query | None:
        r = self.rng
        if kind in ("bool", "bm25"):
            t = self.terms(1 + int(r.integers(0, 3)) + int(r.integers(0, 2)))
            n_req = 1 + int(r.integers(0, 2)) if len(t) > 1 else 1
            req, rest = t[:n_req], t[n_req:]
            excl = rest[-1:] if rest and r.random() < 0.3 else []
            return Query.make(require=req, contain=[x for x in rest if x not in excl], exclude=excl)
        if kind == "page":
            return Query.make(contain=self.terms(2), continuation=50 * int(r.integers(1, 3)))
        if kind == "exclude_only":
            return Query.make(exclude=self.terms(1))
        if kind == "absent_contain":
            return Query.make(contain=[self.absent_term()] + self.terms(1))
        if kind == "default":
            return Query.make()
        if kind == "cold":
            return Query.make(require=[self.cold_term()], contain=self.terms(1))
        if kind == "absent_require":
            return Query.make(require=[self.absent_term()])
        if kind == "too_many":
            return Query.make(contain=self.terms(51))
        return None  # malformed: no valid query

    def request_block(self, counts: dict[str, int]) -> list[dict]:
        """One block of worker-format requests: url, scored flag, kind and
        the query it encodes (None for a malformed URL)."""
        kinds = [k for k, n in counts.items() for _ in range(n)]
        out = []
        for i in self.rng.permutation(len(kinds)):
            kind = kinds[i]
            q = self._query(kind)
            if q is None:
                url = f"/search?t=3_{self.terms(1)[0]}&t="
            else:
                url = "/search?" + build_query_string(q)
            out.append({"url": url, "scored": kind in SCORED_KINDS, "kind": kind, "query": q})
        return out

    def topk_query(self, kind: str) -> Query:
        t = self.terms(2 + int(self.rng.integers(0, 2)))
        if kind == "and":
            return Query.make(require=t[:1], contain=t[1:], k=K)
        return Query.make(contain=t, k=K)

    def topk_block(self) -> list[tuple[str, Query]]:
        kinds = [k for k, n in TOPK_BLOCK.items() for _ in range(n)]
        return [(kinds[i], self.topk_query(kinds[i])) for i in self.rng.permutation(len(kinds))]

    def batch_table(self, n: int) -> list[tuple]:
        """Rows of plans.batch.QUERIES_SCHEMA: every query has at least one
        indexed require or contain term, so each yields ranked rows."""
        rows = []
        for i in range(n):
            t = self.terms(2 + int(self.rng.integers(0, 2)))
            req = t[:1] if self.rng.random() < 0.5 else []
            excl = t[-1:] if len(t) > 2 and self.rng.random() < 0.3 else []
            con = [x for x in t if x not in req and x not in excl]
            rows.append((f"q{i:04d}", req, con, excl))
        return rows
