"""Output checks. Each returns a list of problems; empty means correct.

Request hits are checked by re-tokenizing the returned content with the
index's own split rule, so a wrong doc fetch or a wrong boolean kernel both
show. The exclude-only quirk (the excluded union *is* the result) is
honoured.
"""

from __future__ import annotations

import hashlib
import json
import re

from edgesearch_spark.api import no_results_response
from edgesearch_spark.tokenizer import MAX_TERM_BYTES, TOKEN_SPLIT_RE

_SPLIT = re.compile(TOKEN_SPLIT_RE)


def tokens(content: str) -> set[str]:
    return {t for t in _SPLIT.split(content.lower()) if t and len(t.encode()) <= MAX_TERM_BYTES}


def check_request(req: dict, status: int, body: str, indexed) -> list[str]:
    """``indexed(term) -> bool`` says whether a term is in the index."""
    kind, q = req["kind"], req["query"]
    if kind == "malformed":
        return [] if status == 400 else [f"malformed request gave {status}"]
    if kind == "too_many":
        return [] if status == 413 else [f"51-term request gave {status}"]
    if status != 200:
        return [f"{kind} request gave {status}"]
    if kind == "absent_require":
        return [] if body == no_results_response() else ["absent require term returned results"]
    try:
        resp = json.loads(body)
    except ValueError:
        return [f"{kind} body is not JSON"]
    hits = resp["results"]
    probs = []
    if len(hits) > 50 or resp["total"] < len(hits) + (q.continuation if hits else 0):
        probs.append(f"{kind}: {len(hits)} hits against total {resp['total']}")
    cont = resp["continuation"]
    if cont is not None and cont != q.continuation + len(hits):
        probs.append(f"{kind}: continuation {cont} after {len(hits)} hits from {q.continuation}")
    if kind == "default":
        if not hits:
            probs.append("default page is empty")
        return probs
    contain = [t for t in q.contain if indexed(t)]
    exclude = [t for t in q.exclude if indexed(t)]
    quirk = not q.require and not contain
    for content in hits:
        toks = tokens(content)
        if any(t not in toks for t in q.require):
            probs.append(f"{kind}: hit misses a require term")
        elif contain and not any(t in toks for t in contain):
            probs.append(f"{kind}: hit has no contain term")
        elif quirk and exclude and not any(t in toks for t in exclude):
            probs.append(f"{kind}: exclude-only hit has none of the excluded terms")
        elif not quirk and any(t in toks for t in exclude):
            probs.append(f"{kind}: hit has an excluded term")
    return probs


def check_topk(res, k: int) -> list[str]:
    s = res.scores
    if len(res.doc_ids) > k or len(set(res.doc_ids)) != len(res.doc_ids):
        return ["topk page has too many or repeated docs"]
    if any(a < b for a, b in zip(s, s[1:])):
        return ["topk scores not in descending order"]
    return []


def same_ranking(a, b, places: int | None = None) -> bool:
    """Same doc_ids in the same order, and equal scores (exactly, or to
    ``places`` decimals when one side is rounded)."""
    if list(a.doc_ids) != list(b.doc_ids):
        return False
    if places is None:
        return list(a.scores) == list(b.scores)
    tol = 0.5 * 10 ** -places + 1e-12
    return all(abs(x - y) <= tol for x, y in zip(a.scores, b.scores))


class Digest:
    """sha256 over the outputs of a fixed prefix of the run, comparable
    between runs with one seed whatever their length."""

    def __init__(self):
        self.h = hashlib.sha256()

    def add(self, *parts) -> None:
        for p in parts:
            self.h.update(repr(p).encode())
            self.h.update(b"\0")

    def hexdigest(self) -> str:
        return self.h.hexdigest()
