"""Output checks.  Ranked results are compared with the repository's
single-node BM25 oracle (``tests/oracle.py::BM25Oracle``, loaded read-only):
per rank the score must match the oracle's, and every returned doc must be
a real candidate carrying its own oracle score, so tied docs are compared
as sets.  Scores match within a relative 1e-5 (packed weights are float32).

Every check returns ``None`` when the output is right, else a message.
"""

from __future__ import annotations

import importlib.util
from collections import Counter
from pathlib import Path

import numpy as np

from inputs import tokens

TOL = 1e-5


def load_oracle_class(root: Path):
    """``BM25Oracle`` from ``<root>/tests/oracle.py``, imported by path."""
    spec = importlib.util.spec_from_file_location("_bm25_oracle", root / "tests" / "oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.BM25Oracle


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= TOL * max(1.0, abs(b))


class Expected:
    """Oracle answers over one corpus.  Per-term weight columns come from
    ``BM25Oracle.doc_weight`` and are summed in NumPy, so a query costs a
    few vector adds instead of a pass over every doc in Python."""

    def __init__(self, oracle_cls, ids: list[str], texts: list[str], roles: list[str]):
        self.oracle = oracle_cls(dict(zip(ids, texts)))
        self.ids = list(ids)
        self.pos = {d: i for i, d in enumerate(ids)}
        self.texts = list(texts)
        self.roles = np.array(roles, dtype=object)
        self._w: dict[str, np.ndarray] = {}
        self._docs_of: dict[str, list[int]] = {}
        for i, d in enumerate(ids):
            for t in self.oracle.tf[d]:
                self._docs_of.setdefault(t, []).append(i)

    def add_frozen(self, ids: list[str], texts: list[str], roles: list[str]) -> None:
        """Append docs the way the engine appends them: weighted with the
        corpus statistics frozen at build time (N, avgdl, df); a term the
        corpus never held takes its df from the batch that first brings it."""
        o = self.oracle
        batch_df: dict[str, int] = {}
        for d, t in zip(ids, texts):
            tf = Counter(tokens(t))
            o.tf[d], o.dl[d] = tf, sum(tf.values())
            for term in tf:
                if term not in o.df:
                    batch_df[term] = batch_df.get(term, 0) + 1
                self._docs_of.setdefault(term, []).append(len(self.ids))
            self.pos[d] = len(self.ids)
            self.ids.append(d)
            self.texts.append(t)
        o.df.update(batch_df)
        self.roles = np.concatenate([self.roles, np.array(roles, dtype=object)])
        self._w.clear()

    def weights(self, term: str) -> np.ndarray:
        w = self._w.get(term)
        if w is None:
            w = np.zeros(len(self.ids))
            for i in self._docs_of.get(term, []):
                w[i] = self.oracle.doc_weight(term, self.ids[i])
            self._w[term] = w
        return w

    def scores(self, terms, mask: np.ndarray | None = None) -> np.ndarray:
        """BM25 of every doc for unit-weight ``terms``; masked docs score 0."""
        s = np.zeros(len(self.ids))
        for t in set(terms):
            s += self.weights(t)
        if mask is not None:
            s = np.where(mask, s, 0.0)
        return s

    def query_scores(self, text: str, mask: np.ndarray | None = None) -> np.ndarray:
        return self.scores(self.oracle.query_terms(text), mask)

    def dsl_scores(self, dsl: dict, mask: np.ndarray | None = None) -> np.ndarray:
        """The engine's query-string semantics for ``+must "a b" -not should``:
        must and phrase terms required, excluded terms absent, the phrase a
        contiguous token run, score summed over every positive term."""
        required = set(dsl["must"]) | set(dsl["phrase"])
        keep = np.ones(len(self.ids), dtype=bool) if mask is None else mask.copy()
        for t in required:
            keep &= self.weights(t) > 0
        for t in dsl["not"]:
            keep &= self.weights(t) == 0
        needle = " " + " ".join(dsl["phrase"]) + " "
        for i in np.flatnonzero(keep):
            if needle not in " " + " ".join(tokens(self.texts[i])) + " ":
                keep[i] = False
        return self.scores(required | set(dsl["should"]), keep)

    def mlt_scores(self, doc_id: str, n_terms: int = 10) -> np.ndarray:
        """More-like-this: the source doc's ``n_terms`` heaviest terms (by
        weight rounded to 1e-9, then term) as a weighted query, source
        doc excluded."""
        vec = [(t, self.oracle.doc_weight(t, doc_id)) for t in self.oracle.tf[doc_id]]
        top = sorted(vec, key=lambda tw: (-round(tw[1], 9), tw[0]))[:n_terms]
        s = np.zeros(len(self.ids))
        for t, w in top:
            s += w * self.weights(t)
        s[self.pos[doc_id]] = 0.0
        return s

    def facets(self, text: str, mask: np.ndarray | None = None) -> dict[str, int]:
        hit = self.query_scores(text, mask) > 0
        roles, counts = np.unique(self.roles[hit], return_counts=True)
        return {str(r): int(c) for r, c in zip(roles, counts)}

    def n_hit(self, terms) -> int:
        return int((self.scores(terms) > 0).sum())


def check_ranked(got: list[tuple[str, float]], exp: Expected, scores: np.ndarray, k: int) -> str | None:
    """``got`` must be the top ``k`` of ``scores`` (docs scoring 0 are not
    candidates), ties as sets."""
    ranked = np.sort(scores[scores > 0])[::-1]
    n = min(k, len(ranked))
    if len(got) != n:
        msg = f"{len(got)} results, expected {n}"
        got_ids = {d for d, _ in got}
        missing = [i for i in np.argsort(-scores, kind="stable")[:n] if exp.ids[i] not in got_ids]
        if missing:  # name the doc the output lacks, beside the rank-k score
            i = missing[0]
            msg += f"; first missing {exp.ids[i]} (oracle {scores[i]:.7g}, rank-{n} score {ranked[n - 1]:.7g})"
        return msg
    seen = set()
    for i, (d, s) in enumerate(got):
        if d in seen:
            return f"duplicate doc {d}"
        seen.add(d)
        j = exp.pos.get(d)
        if j is None or scores[j] <= 0:
            return f"rank {i}: {d} is not a candidate"
        if not _close(s, scores[j]):
            return f"rank {i}: {d} scored {s}, oracle {scores[j]}"
        if not _close(s, ranked[i]):
            return f"rank {i}: score {s}, oracle rank score {ranked[i]}"
    return None


def check_absent(got_ids, deleted: set[str]) -> str | None:
    """No deleted doc may come back."""
    back = sorted(set(got_ids) & deleted)
    return f"deleted docs returned: {back[:4]}" if back else None


def self_test(oracle_cls) -> list[str]:
    """Feed the checks known-good and deliberately corrupted outputs; return
    the cases they judged wrongly (empty when the checker works)."""
    ids = [f"c#{i}" for i in range(8)]
    texts = [
        "alpha beta gamma",
        "alpha alpha delta",
        "beta gamma gamma epsilon",
        "delta epsilon",
        "alpha beta",
        "zeta eta theta",
        "alpha beta gamma",
        "gamma",
    ]
    exp = Expected(oracle_cls, ids, texts, ["user", "assistant"] * 4)
    s = exp.query_scores("alpha gamma")
    order = sorted(((ids[i], float(s[i])) for i in np.flatnonzero(s > 0)), key=lambda x: (-x[1], x[0]))
    good = order[:3]
    wrong = []
    if check_ranked(good, exp, s, 3) is not None:
        wrong.append("correct ranking flagged")
    # docs 0 and 6 share their text, so they tie for rank 0 and the third
    # doc scores strictly lower: swapping ranks 0 and 1 is still right,
    # swapping ranks 1 and 2 is not
    if check_ranked([good[1], good[0], good[2]], exp, s, 3) is not None:
        wrong.append("tie permutation flagged")
    corrupt = {
        "swapped ranks": [good[0], good[2], good[1]],
        "perturbed score": [good[0], (good[1][0], good[1][1] * 1.001), good[2]],
        "foreign doc": [good[0], good[1], ("c#5", good[2][1])],
        "lower doc, rank's score": [good[0], good[1], (order[3][0], good[2][1])],
        "short list": good[:2],
        "duplicate": [good[0], good[0], good[1]],
    }
    for name, got in corrupt.items():
        if check_ranked(got, exp, s, 3) is None:
            wrong.append(f"{name} not flagged")
    dead = {good[0][0]}
    alive = np.array([d not in dead for d in ids])
    if check_ranked(good, exp, exp.query_scores("alpha gamma", alive), 3) is None:
        wrong.append("resurrected deleted doc not flagged by ranking check")
    if check_absent([d for d, _ in good], dead) is None:
        wrong.append("resurrected deleted doc not flagged")
    mlt = exp.mlt_scores("c#0", 2)
    if mlt[0] != 0 or mlt[6] <= 0:
        wrong.append("more-like-this oracle wrong")
    if exp.facets("delta") != {"assistant": 2}:
        wrong.append(f"facet oracle wrong: {exp.facets('delta')}")
    dsl = {"must": ["alpha"], "phrase": ["beta", "gamma"], "not": ["delta"], "should": []}
    if {ids[i] for i in np.flatnonzero(exp.dsl_scores(dsl) > 0)} != {"c#0", "c#6"}:
        wrong.append("dsl oracle wrong")
    return wrong
