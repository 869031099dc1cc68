"""Correctness of every search the benchmark times.

Expected results come from the ``mias_spec.oracle`` pandas index of the
same live corpus, built outside the timed region. Internal doc ids of
an upserted index differ from a fresh build's, so hits are compared on
the id-independent (score, doc_key) order, scores to 1e-6, as
``tools/stream_soak.py`` does. A tie at the k-th score may be broken
either way: hits strictly above it must match as a set, hits at it must
come from the oracle's hits at that score.
"""

from __future__ import annotations

import pandas as pd

from mias_spec import oracle
from mias_spec.document import doc_key, tokenize_document

TOL = 1e-6


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= TOL * max(1.0, abs(b))


class Checker:
    """Oracle of one live corpus, with its expected results memoized
    per (query, k)."""

    def __init__(self, live: pd.DataFrame):
        self.index = oracle.build_index(live)
        self.key_of = {(r, p): doc_key(r, p, c) for r, p, c in
                       zip(live["repo"], live["path"], live["commit"])}
        self.content = {(r, p): (c, lg) for r, p, c, lg in
                        zip(live["repo"], live["path"], live["content"],
                            live["lang"])}
        d = self.index.docs
        self.title = dict(zip(d["doc_key"], d["title"]))
        self._exp: dict[str, list[tuple[float, str]]] = {}

    def expected(self, query: str) -> list[tuple[float, str]]:
        """Every hit of ``query``, as (score, doc_key), best first."""
        if query not in self._exp:
            res = oracle.search(self.index, query, k=1 << 30)
            keys = self.index.docs.set_index("doc_id").loc[
                res["doc_id"], "doc_key"].tolist() if len(res) else []
            self._exp[query] = sorted(
                zip(res["score"].astype(float).tolist(), keys),
                key=lambda t: (-t[0], t[1]))
        return self._exp[query]

    def problem(self, query: str, hits: pd.DataFrame, k: int,
                with_fields: bool = True, snippets: bool = True
                ) -> str | None:
        """None when ``hits`` (a SearchResult.hits page of top-``k``) is
        right; else a one-line description of the first difference.
        Without display fields (``with_fields``) the hits carry no
        document key, so only their count and scores are compared."""
        exp = self.expected(query)
        want = min(k, len(exp))
        if len(hits) != want:
            return f"{len(hits)} hits, want {want}"
        if not want:
            return None
        if not with_fields:
            for gs, (es, _) in zip(hits["score"].astype(float), exp):
                if not _close(gs, es):
                    return f"score {gs!r} where the oracle has {es!r}"
            return None
        got = []
        for row in hits.itertuples(index=False):
            key = self.key_of.get((row.repo, row.path))
            if key is None:
                return f"hit {row.repo}/{row.path} is not a live document"
            c, lg = self.content[(row.repo, row.path)]
            if row.title != self.title[key] or \
                    row.id not in (key, tokenize_document(c, lg).arxiv_id):
                return f"display fields of {row.path} differ"
            if snippets and not isinstance(getattr(row, "snippet", None),
                                           str):
                return f"no snippet for {row.path}"
            got.append((float(row.score), key))
        for (gs, _), (es, _) in zip(got, exp):
            if not _close(gs, es):
                return f"score {gs!r} where the oracle has {es!r}"
        if any(a[0] < b[0] and not _close(a[0], b[0])
               for a, b in zip(got, got[1:])):
            return "hits not in score order"
        kth = exp[want - 1][0]
        above_g = {d for s, d in got if s > kth and not _close(s, kth)}
        above_e = {d for s, d in exp if s > kth and not _close(s, kth)}
        if above_g != above_e:
            return "top-k documents differ"
        tie_e = {d for s, d in exp if _close(s, kth)}
        if not {d for s, d in got if _close(s, kth)} <= tie_e:
            return "documents at the k-th score differ"
        return None

    def full_problem(self, query: str, hits: pd.DataFrame) -> str | None:
        """Complete-hit-list comparison (k covering every match)."""
        exp = self.expected(query)
        if not len(hits):
            return None if not exp else f"no hits, want {len(exp)}"
        got = sorted(((round(float(s), 6), self.key_of.get((r, p)))
                      for s, r, p in zip(hits["score"], hits["repo"],
                                         hits["path"])),
                     key=lambda t: (-t[0], t[1] or ""))
        want = [(round(s, 6), d) for s, d in exp]
        if got != want:
            n = next((i for i, (a, b) in enumerate(zip(got, want))
                      if a != b), min(len(got), len(want)))
            return f"full hit list differs at {n} ({len(got)} vs {len(want)})"
        return None

