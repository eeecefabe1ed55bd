"""Block-max WAND pruned top-k retrieval over the packed postings layout.

The physical plan mirrors the reference's shard fan-out + heap merge
(``src/splade_easy/retriever.py:105-122``) but over an *inverted, doc-
segmented* layout:

  postings (partitioned by seg, one complete posting sub-list per term per
  segment) → parquet scan pruned to the query's terms (predicate pushdown;
  files are sorted by term inside each segment partition so row-group stats
  prune) → mapInPandas kernel: per segment, exact BM25 scores via a dense
  NumPy scatter-add accumulator with **block-max pruning** → per-segment
  top-k candidates → global ``orderBy(desc).limit(k)``
  (TakeOrderedAndProject: partial top-k per partition + driver merge, the
  reference's exact merge topology).

All four entry points — ``wand_search_scores`` / ``wand_profile`` for one
query, ``wand_search_many_scores`` / ``wand_batch_profile`` for a batch —
share one prologue (``_prepared``: term ids, broadcast, pruned colocated
scan) and one segment driver (``_per_segment``: tombstone / allow carve-off,
per-segment masks and watermark).  They differ only in the segment kernel
(``_score_segment`` or ``_batch_segment``) and in what they emit.

Pruning inside ``_score_segment`` is a vectorized block-max MaxScore/WAND
hybrid, exact by construction:

  phase 1 (essential terms, descending score upper bound): every block is
  decoded into the dense accumulator — except that once a running top-k
  threshold θ exists, a block is skipped when even its best possible
  outcome, ``max(acc over its doc range) + qw·block_max_weight +
  Σ remaining-term upper bounds``, stays below θ (per-block max_weight
  skipping, the block-max part).  Docs in a skipped block are *proven*
  unable to reach the final top-k, so their understated partial scores can
  never surface (see the invariant note in ``_score_segment``).

  phase 2 (candidate mode): once the remaining terms' upper-bound sum falls
  below θ, no new doc can enter the top-k; the surviving candidate set is
  tracked explicitly with **per-candidate remaining upper bounds computed
  from each candidate's covering block** (searchsorted over block ranges —
  tighter than the global per-term bound), only blocks containing a live
  candidate are decoded, and θ keeps rising from the candidates' exact
  partial scores.

Tombstones never pass through the driver: the ``deleted`` table is packed
into varbyte tombstone rows (``term_id = TOMB_TERM_ID``) that ride the same
seg-colocation exchange as the postings, and the kernel masks dead docs
*before* θ / candidate computation, so deletes can never inflate the
pruning threshold (they are invisible to it) and results equal a
rebuilt-without-them index's.

Scores are EXACT (pruning only skips work that cannot change the top-k),
so this path is rank-identical to the SQL path and to the oracle — asserted
by tests/test_wand.py on every fixture.  Per-segment k-boundary ties are
all kept (everything scoring >= the kth value survives the segment cut) so
the global (score DESC, doc_id ASC) ordering resolves them deterministically.

Both score modes run through the same kernel: dot (BM25) over the raw
packed weights, cosine over the doc-normalized weight stream packed
alongside (``nwts`` = w/‖d‖ with per-block ``max_nweight``) — cosine is a
plain dot product over that stream up to the query-norm factor, which the
caller divides out (monotone: pruning and ranking are unaffected).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splade_easy_spark.index.catalog import (
    ALLOW_TERM_ID,
    TOMB_TERM_ID,
    term_id_expr,
    term_id_py,
)
from splade_easy_spark.index.postings import unpack_block, varbyte_encode

#: schema of the pruned frame entering the kernels (and of the packed
#: tombstone rows unioned into it).  The term key is the 60-bit content
#: hash (``catalog.term_id_py``) — the postings table stores it natively
#: (round-4 layout) and the legacy string layout projects it JVM-side
#: after its term filter, so the seg exchange, the Arrow hop and the
#: kernel groupby always run over an int64, never a string column.
_PRUNED_SCHEMA = (
    "seg LONG, term_id LONG, block_id INT, n INT, doc_min LONG, "
    "doc_max LONG, max_weight DOUBLE, docs BINARY, wts BINARY, "
    "max_nweight DOUBLE, nwts BINARY"
)

#: relative slack on every pruning bound test.  A bound and the score it
#: bounds sum the same float64 products in different orders (and the
#: per-candidate bound loses one term at a time by subtraction), so a doc
#: whose exact score equals θ can read a few ulps below it — a strict
#: ``bound < θ`` test would then cut a k-th doc.  Comparing against
#: ``θ·(1 − slack)`` keeps such ties; the final cut is on exact scores,
#: so the slack only costs a few extra candidates, never a wrong row.
_BOUND_SLACK = 1e-9


def _query_term_ids(terms: list[str], seed: int) -> dict[str, int]:
    """term → term_id for a query's terms, raising on the (astronomically
    unlikely, ~1/2^60 per pair) driver-visible collision instead of
    silently merging two query terms' weights."""
    ids = {t: term_id_py(t, seed) for t in terms}
    if len(set(ids.values())) != len(ids):
        by_id: dict[int, list[str]] = {}
        for t, i in ids.items():
            by_id.setdefault(i, []).append(t)
        clash = [ts for ts in by_id.values() if len(ts) > 1]
        raise ValueError(
            f"query term_id collision {clash!r}: rebuild the index with a "
            f"different IndexConfig.term_id_seed"
        )
    return ids


def _tombstone_blocks(
    deleted: DataFrame, segment_docs: int, sentinel: int = TOMB_TERM_ID
) -> DataFrame:
    """Pack a doc_int set into postings-schema rows so it rides the
    postings' seg-colocation exchange to its segment's kernel — fully
    distributed (the round-1 driver ``collect()`` of tombstones would
    funnel a heavily-deleted index's millions of ids through the driver per
    query).  Multiple rows per seg are fine; the kernel concatenates.

    ``sentinel`` selects the row kind: TOMB_TERM_ID for an EXCLUSION set
    (deletes, masked out), ALLOW_TERM_ID for the filtered-retrieval
    INCLUSION set (only these doc_ints may score)."""
    dels = deleted.select(
        (F.col("doc_int") / F.lit(segment_docs)).cast("long").alias("seg"),
        "doc_int",
    )

    cols = [c.split()[0] for c in _PRUNED_SCHEMA.split(", ")]

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for seg, g in pdf.groupby("seg", sort=False):
                ids = np.unique(g["doc_int"].to_numpy().astype(np.int64))
                deltas = np.diff(ids, prepend=0).astype(np.uint64)
                rows.append((
                    int(seg), sentinel, 0, len(ids), int(ids[0]), int(ids[-1]),
                    0.0, varbyte_encode(deltas), b"", 0.0, b"",
                ))
            yield pd.DataFrame(rows, columns=cols)

    return dels.mapInPandas(pack, schema=_PRUNED_SCHEMA)


def _split_tombstones(
    pdf: pd.DataFrame,
) -> tuple[pd.DataFrame, pd.DataFrame | None, pd.DataFrame | None]:
    """(real, tombstones, allow) — sentinel rows carved off the postings
    frame (real ids are non-negative 60-bit hashes)."""
    mask = pdf["term_id"] < 0
    if not mask.any():
        return pdf, None, None
    neg = pdf[mask]
    tomb = neg[neg["term_id"] == TOMB_TERM_ID]
    allow = neg[neg["term_id"] == ALLOW_TERM_ID]
    return (
        pdf[~mask],
        tomb if len(tomb) else None,
        allow if len(allow) else None,
    )


def _dead_local(tomb: pd.DataFrame | None, seg: int, seg_base: int) -> np.ndarray | None:
    """Segment-local indices of one packed-id frame (tombstones OR allow
    rows — the wire format is identical)."""
    if tomb is None:
        return None
    tg = tomb[tomb["seg"] == seg]
    if not len(tg):
        return None
    parts = [
        unpack_block(b, b"", int(n))[0] for b, n in zip(tg["docs"], tg["n"])
    ]
    return np.unique(np.concatenate(parts)) - seg_base


def _alive_mask(
    seg_docs: int,
    dead: np.ndarray | None,
    wm_local: int | None,
    allow: np.ndarray | None = None,
    allow_active: bool = False,
) -> np.ndarray | None:
    """The eligibility mask every kernel applies BEFORE θ/candidates/output.

    ``allow_active`` distinguishes "no filter" (None mask possible) from
    "filter excludes this whole segment" (an active filter whose allow rows
    never reached this seg means NO doc here is eligible — without the flag
    the kernel would treat the segment as unfiltered and leak disallowed
    docs).  Deletes and the snapshot watermark then clear bits on top."""
    alive: np.ndarray | None = None
    if allow_active:
        alive = np.zeros(seg_docs, dtype=bool)
        if allow is not None and len(allow):
            alive[allow[(allow >= 0) & (allow < seg_docs)]] = True
    if dead is not None and len(dead):
        if alive is None:
            alive = np.ones(seg_docs, dtype=bool)
        alive[dead[(dead >= 0) & (dead < seg_docs)]] = False
    if wm_local is not None and wm_local < seg_docs:
        if alive is None:
            alive = np.ones(seg_docs, dtype=bool)
        alive[max(wm_local, 0):] = False
    return alive


def _score_segment(
    g: pd.DataFrame,
    qw_map: dict[int, float],
    seg_base: int,
    seg_docs: int,
    top_k: int,
    dead_local: np.ndarray | None = None,
    wcol: str = "wts",
    mcol: str = "max_weight",
    wm_local: int | None = None,
    allow_local: np.ndarray | None = None,
    allow_active: bool = False,
) -> tuple[np.ndarray, np.ndarray, int, int]:
    """Exact top-k for one segment.

    Returns (doc_ints, scores, blocks_total, blocks_decoded); ties at the
    k-boundary are all kept (caller's global order resolves them).

    ``wm_local`` is the reader's as-of-open snapshot watermark in segment-
    local coordinates: docs at local index >= wm_local belong to batches
    not yet acknowledged when the reader opened and are masked exactly
    like tombstones (they never touch θ, candidates, or the output).
    Only blocks SPANNING the watermark reach here with post-watermark
    docs — all-post-watermark blocks are dropped by the pushed
    ``doc_min < W`` predicate (searcher._postings).

    Exactness invariant for block skipping: a block is only skipped when
    every doc in it provably cannot reach the final top-k — at the FIRST
    skip touching a doc its accumulated score is still exact, and the skip
    condition bounds its total potential (exact acc + this block's
    qw·max_weight + all remaining terms' upper bounds) strictly below
    θ·(1 − _BOUND_SLACK), and θ only grows toward the final kth score.  A
    doc with an understated score therefore always ranks strictly below
    the exact top-k and can never be emitted (the per-segment cut keeps
    >= kth, and understated docs are < θ <= kth).  Every bound test
    compares against that slackened θ, so float rounding in a bound can
    never cut a doc whose exact score reaches θ.
    """
    acc = np.zeros(seg_docs, dtype=np.float64)
    touched = np.zeros(seg_docs, dtype=bool)
    # filtered retrieval rides the same mask as deletes/snapshot: ineligible
    # docs never touch θ, candidates, or the output, and the block-max
    # bounds stay conservative (a block's max over ALL docs ≥ its max over
    # allowed docs), so the exactness invariant below is unchanged
    alive = _alive_mask(seg_docs, dead_local, wm_local, allow_local, allow_active)

    # per term: blocks sorted by doc_min (non-overlapping ascending ranges —
    # pack_postings emits consecutive sorted runs; appended runs start past
    # the previous max doc_int)
    terms = []
    blocks_total = 0
    for term, tg in g.groupby("term_id", sort=False):
        qw = qw_map[term]
        tg = tg.sort_values("doc_min", kind="stable")
        bmin = tg["doc_min"].to_numpy(dtype=np.int64) - seg_base
        bmax = tg["doc_max"].to_numpy(dtype=np.int64) - seg_base
        bubs = qw * tg[mcol].to_numpy(dtype=np.float64)
        bufs = list(zip(tg["docs"], tg[wcol], tg["n"].astype(int)))
        terms.append((float(bubs.max()), term, qw, bmin, bmax, bubs, bufs))
        blocks_total += len(bufs)
    # descending upper bound; term as tiebreak for determinism
    terms.sort(key=lambda t: (-t[0], t[1]))
    ubs = np.array([t[0] for t in terms], dtype=np.float64)
    suffix = np.concatenate((np.cumsum(ubs[::-1])[::-1], [0.0]))

    blocks_decoded = 0
    theta = floor = 0.0  # floor = θ less the rounding slack
    theta_set = False
    candidates: np.ndarray | None = None  # sorted local indices, None = phase 1
    rem_ub: np.ndarray | None = None  # per-candidate remaining block-max bound

    def covering_ub(bmin_t, bmax_t, bubs_t, cand):
        """Per-candidate upper bound from the covering block of one term
        (0 where no block covers the candidate)."""
        pos = np.searchsorted(bmin_t, cand, side="right") - 1
        cov = pos >= 0
        cov[cov] = cand[cov] <= bmax_t[pos[cov]]
        out = np.zeros(len(cand), dtype=np.float64)
        out[cov] = bubs_t[pos[cov]]
        return out

    for i, (ub, term, qw, bmin, bmax, bubs, bufs) in enumerate(terms):
        remaining_after = float(suffix[i + 1])
        if candidates is None:
            for j, (dbuf, wbuf, n) in enumerate(bufs):
                if theta_set:
                    lo, hi = int(bmin[j]), int(bmax[j]) + 1
                    if acc[lo:hi].max() + bubs[j] + remaining_after < floor:
                        continue  # block-max skip (phase-1)
                d, w = unpack_block(dbuf, wbuf, int(n))
                blocks_decoded += 1
                idx = d - seg_base
                acc[idx] += qw * w
                if alive is None:
                    touched[idx] = True
                else:
                    touched[idx] = alive[idx]
            t_idx = np.flatnonzero(touched)
            if len(t_idx) >= top_k:
                scores = acc[t_idx]
                kth = np.partition(scores, len(scores) - top_k)[len(scores) - top_k]
                theta = max(theta, float(kth))
                theta_set = True
                floor = theta * (1.0 - _BOUND_SLACK)
                if remaining_after < floor:
                    # no untouched doc can reach θ — freeze the candidate set
                    keep = t_idx[acc[t_idx] + remaining_after >= floor]
                    candidates = np.sort(keep)
                    rem_ub = np.zeros(len(candidates), dtype=np.float64)
                    for (_, _, _, bmin2, bmax2, bubs2, _) in terms[i + 1 :]:
                        rem_ub += covering_ub(bmin2, bmax2, bubs2, candidates)
                    sel = acc[candidates] + rem_ub >= floor
                    candidates, rem_ub = candidates[sel], rem_ub[sel]
        else:
            if len(candidates) == 0:
                break
            # decode only blocks containing >=1 surviving candidate
            pos_lo = np.searchsorted(candidates, bmin)
            has_c = pos_lo < len(candidates)
            needed = has_c.copy()
            needed[has_c] = candidates[pos_lo[has_c]] <= bmax[has_c]
            for j in np.flatnonzero(needed):
                dbuf, wbuf, n = bufs[j]
                d, w = unpack_block(dbuf, wbuf, int(n))
                blocks_decoded += 1
                idx = d - seg_base
                acc[idx] += qw * w
            # retire this term's per-candidate bound, tighten θ, re-filter
            rem_ub = rem_ub - covering_ub(bmin, bmax, bubs, candidates)
            cs = acc[candidates]
            if len(cs) >= top_k:
                kth = np.partition(cs, len(cs) - top_k)[len(cs) - top_k]
                theta = max(theta, float(kth))
                floor = theta * (1.0 - _BOUND_SLACK)
            sel = cs + rem_ub >= floor
            candidates, rem_ub = candidates[sel], rem_ub[sel]

    if candidates is not None:
        live = candidates[acc[candidates] > 0]
    else:
        live = np.flatnonzero(touched & (acc > 0))
    if len(live) == 0:
        return (
            np.zeros(0, dtype=np.int64),
            np.zeros(0, dtype=np.float64),
            blocks_total,
            blocks_decoded,
        )
    scores = acc[live]
    if len(live) > top_k:
        kth = np.partition(scores, len(scores) - top_k)[len(scores) - top_k]
        sel = scores >= kth  # keep k-boundary ties for the global tiebreak
        live, scores = live[sel], scores[sel]
    order = np.lexsort((live, -scores))
    return (live + seg_base)[order], scores[order], blocks_total, blocks_decoded


def _pruned_with_tombstones(
    postings: DataFrame,
    qterm_ids: list[int],
    deleted: DataFrame | None,
    segment_docs: int,
    wcol: str = "wts",
    mcol: str = "max_weight",
    qterms_legacy: list[str] | None = None,
    term_id_seed: int = 0,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Term filter FIRST (parquet predicate pushdown — only the query's
    posting lists are read), prune to the columns THIS score mode's kernel
    reads, union the packed tombstones, then colocate each segment's
    surviving blocks in one partition.  The kernel needs a segment's blocks
    together to produce complete document scores; this repartition moves
    only the query's postings (same volume the SQL path shuffles into its
    join).

    On the round-4 layout the filter is ``term_id IN (...)`` — an int64
    predicate against the natively-stored hash, pushed to parquet row-group
    stats exactly like the string filter was.  On a legacy index
    (``qterms_legacy`` given) the string filter still pushes down and the
    hash is projected JVM-side above the scan, so the exchange/hop/kernel
    see the identical int64-keyed frame either way.

    The column pruning matters as much as the term filter: the postings
    table carries BOTH weight streams (``wts`` and the cosine-mode
    ``nwts``, equal-sized) plus ``block_id``; a dot-mode query that
    shipped the full schema would pay ~2× the weight bytes through the
    seg exchange AND the Arrow hop into the kernel — the measured scaling
    cap on this box is exactly bytes through that hop.  The projection
    lands below the exchange (Catalyst pushes it into the scan), so the
    unused stream is never read, shuffled, or IPC'd."""
    cols = ["seg", "term_id", "n", "doc_min", "doc_max", mcol, "docs", wcol]
    if qterms_legacy is not None:
        pruned = (
            postings.where(F.col("term").isin(qterms_legacy))
            .withColumn("term_id", term_id_expr(F.col("term"), term_id_seed))
            .select(*cols)
        )
    else:
        pruned = postings.where(F.col("term_id").isin(qterm_ids)).select(*cols)
    if deleted is not None:
        pruned = pruned.unionByName(
            _tombstone_blocks(deleted, segment_docs).select(*cols)
        )
    if allowed is not None:
        # the filtered-retrieval inclusion set rides the identical packed
        # wire format under its own sentinel; pack cost ∝ |allowed| — the
        # selective-filter case this path exists for keeps it tiny
        pruned = pruned.unionByName(
            _tombstone_blocks(allowed, segment_docs, ALLOW_TERM_ID).select(*cols)
        )
    return pruned.repartition(F.col("seg"))


def _prepared(
    spark: SparkSession,
    postings: DataFrame,
    queries_terms: dict[str, list[tuple[str, float]]],
    segment_docs: int,
    deleted: DataFrame | None,
    use_cosine: bool,
    term_id_seed: int = 0,
    allowed: DataFrame | None = None,
):
    """The prologue every entry point shares: hash the union of the
    queries' terms, broadcast ``[(query_id, [(term_id, qweight)])]``, pick
    this score mode's weight/bound columns and build the pruned,
    seg-colocated frame.  Single-query callers pass a one-entry dict."""
    qids = sorted(queries_terms)
    all_terms = sorted({t for ts in queries_terms.values() for t, _ in ts})
    ids = _query_term_ids(all_terms, term_id_seed)
    b_queries = spark.sparkContext.broadcast(
        [
            (qid, sorted((ids[t], w) for t, w in queries_terms[qid]))
            for qid in qids
        ]
    )
    wcol, mcol = ("nwts", "max_nweight") if use_cosine else ("wts", "max_weight")
    pruned = _pruned_with_tombstones(
        postings, [ids[t] for t in all_terms], deleted, segment_docs, wcol, mcol,
        qterms_legacy=None if "term_id" in postings.columns else all_terms,
        term_id_seed=term_id_seed, allowed=allowed,
    )
    return b_queries, wcol, mcol, pruned


def _per_segment(
    pruned: DataFrame,
    segment_docs: int,
    snapshot_max: int | None,
    filter_active: bool,
    score: Callable[[int, pd.DataFrame, int, dict], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """The one segment driver behind every WAND entry point: per
    partition, carve the packed tombstone / allow rows off the colocated
    frame, and per segment derive its base doc_int, its dead and allowed
    local indices and the snapshot watermark, then call
    ``score(seg, g, base, mask)``.  ``mask`` holds the keyword arguments
    both segment kernels take (``dead_local``, ``wm_local``,
    ``allow_local``, ``allow_active``).  A segment the active filter
    allows nothing in is skipped outright; empty frames are dropped."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames = [b for b in batches if len(b)]
        if not frames:
            return
        real, tomb, allow = _split_tombstones(pd.concat(frames, ignore_index=True))
        for seg, g in real.groupby("seg", sort=False):
            base = int(seg) * segment_docs
            alw = _dead_local(allow, seg, base)
            if filter_active and alw is None:
                continue  # active filter, no allowed doc in this segment
            mask = {
                "dead_local": _dead_local(tomb, seg, base),
                "wm_local": None if snapshot_max is None else int(snapshot_max) - base,
                "allow_local": alw,
                "allow_active": filter_active,
            }
            out = score(int(seg), g, base, mask)
            if len(out):
                yield out

    return pruned.mapInPandas(kernel, schema=schema)


def _blocks_row(seg: int, total: int, decoded: int) -> pd.DataFrame:
    return pd.DataFrame(
        {"seg": [seg], "blocks_total": [total], "blocks_decoded": [decoded]}
    )


_PROFILE_SCHEMA = "seg LONG, blocks_total LONG, blocks_decoded LONG"


def wand_search_scores(
    spark: SparkSession,
    postings: DataFrame,
    terms: list[tuple[str, float]],
    segment_docs: int,
    top_k: int = 10,
    deleted: DataFrame | None = None,
    use_cosine: bool = False,
    term_id_seed: int = 0,
    snapshot_max: int | None = None,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """(doc_int, score) candidates: per-segment exact top-k via the pruned
    kernel, global merge left to the caller's orderBy/limit.

    ``allowed``: filtered retrieval — a (doc_int) frame of the docs a
    filter permits.  Packed and shipped like tombstones, masked in the
    kernel BEFORE θ (block-max bounds stay conservative upper bounds over
    the allowed subset, so exactness is unchanged); segments none of whose
    docs are allowed are skipped outright.  Pack cost ∝ |allowed| — use
    this path for selective filters, the SQL path for broad ones.

    ``snapshot_max``: the reader's as-of-open watermark — docs with
    ``doc_int >= snapshot_max`` are masked exactly in the kernel (blocks
    merged across the watermark by a concurrent optimize are decoded and
    row-filtered, never dropped whole; see searcher._postings).

    ``use_cosine`` runs the SAME kernel over the normalized weight stream
    (``nwts``/``max_nweight``: w/‖d‖ packed at build time) — cosine is then
    a plain dot product, Σ qw·(w/‖d‖), up to the query-norm factor the
    caller divides out (monotone, so pruning and ranking are unaffected).

    The postings layout (native int64 ``term_id`` vs legacy ``term``
    string) is detected from the frame's columns; ``term_id_seed`` must be
    the index's recorded seed (manifest layout)."""
    b_q, wcol, mcol, pruned = _prepared(
        spark, postings, {"": terms}, segment_docs, deleted, use_cosine,
        term_id_seed, allowed=allowed,
    )

    def score(seg: int, g: pd.DataFrame, base: int, mask: dict) -> pd.DataFrame:
        d, s, _, _ = _score_segment(
            g, dict(b_q.value[0][1]), base, segment_docs, top_k,
            wcol=wcol, mcol=mcol, **mask,
        )
        return pd.DataFrame({"doc_int": d, "score": s})

    return _per_segment(
        pruned, segment_docs, snapshot_max, allowed is not None, score,
        "doc_int LONG, score DOUBLE",
    )


def wand_profile(
    spark: SparkSession,
    postings: DataFrame,
    terms: list[tuple[str, float]],
    segment_docs: int,
    top_k: int = 10,
    deleted: DataFrame | None = None,
    use_cosine: bool = False,
    term_id_seed: int = 0,
    snapshot_max: int | None = None,
) -> DataFrame:
    """Instrumented run: per-segment (blocks_total, blocks_decoded) for the
    same exact computation — the pruning-effectiveness probe behind the
    ``wand_block_skip_ratio`` bench entry."""
    b_q, wcol, mcol, pruned = _prepared(
        spark, postings, {"": terms}, segment_docs, deleted, use_cosine,
        term_id_seed,
    )

    def profile(seg: int, g: pd.DataFrame, base: int, mask: dict) -> pd.DataFrame:
        _, _, total, decoded = _score_segment(
            g, dict(b_q.value[0][1]), base, segment_docs, top_k,
            wcol=wcol, mcol=mcol, **mask,
        )
        return _blocks_row(seg, total, decoded)

    return _per_segment(
        pruned, segment_docs, snapshot_max, False, profile, _PROFILE_SCHEMA
    )


def _batch_segment(
    g: pd.DataFrame,
    queries: list[tuple[str, list[tuple[int, float]]]],
    base: int,
    segment_docs: int,
    top_k: int,
    dead_local: np.ndarray | None,
    wcol: str,
    mcol: str,
    wm_local: int | None = None,
    allow_local: np.ndarray | None = None,
    allow_active: bool = False,
) -> tuple[list, list, list, int, int]:
    """Exact batch top-k for one segment; shared by the live batch kernel
    and the profile kernel.  ``wm_local`` masks post-snapshot docs exactly
    like tombstones (see ``_score_segment``).

    Returns (query_ids, doc_ints, scores, blocks_total, blocks_decoded).

    Decode policy is **once per term, whole list**: a term's posting list
    is decoded in full the first time ANY query scatters it or repairs
    through it, then every later use is one vectorized scatter/gather.  A
    lazy per-block cache measured a 0.97–1.00 decode ratio across 5k/50k
    vocabularies and 100–500-query batches (rare, high-idf terms are
    scattered first, so some query always needs each matched term), and
    its block-max probes were pure overhead at batch scale.

    What still stays packed: terms MaxScore-cut by every query that
    carries them whose block ranges (checked against candidate doc ids
    with metadata only — searchsorted over bmin/bmax, no decode) never
    cover a surviving candidate.  Single queries keep real block-level
    skipping in ``_score_segment`` (skip ratio ~0.6 on the bench corpus);
    that is the right tool for k≈1–5 queries, this kernel is the right
    tool for batches.

    Each term's block rows are sorted by ``doc_min`` before use — rows
    arrive through a ``repartition(seg)`` shuffle and, on appended indexes,
    from multiple parquet files whose read order Spark picks by size, so
    raw partition order is NOT ascending (the round-2 batch kernel assumed
    it was, corrupting the searchsorted repair on appended indexes).
    """
    alive = _alive_mask(segment_docs, dead_local, wm_local, allow_local, allow_active)

    # per-term: block ranges (doc_min ascending, non-overlapping — see
    # _score_segment), packed buffers, decode slot, score upper bound
    meta: dict[int, list] = {}
    blocks_total = 0
    for term, tg in g.groupby("term_id", sort=False):
        tg = tg.sort_values("doc_min", kind="stable")
        bmin = tg["doc_min"].to_numpy(dtype=np.int64) - base
        bmax = tg["doc_max"].to_numpy(dtype=np.int64) - base
        bufs = list(zip(tg["docs"], tg[wcol], tg["n"].astype(int)))
        # slots: 0=bmin 1=bmax 2=bufs 3=decoded (idx, wts) 4=max weight
        meta[term] = [bmin, bmax, bufs, None, float(tg[mcol].max())]
        blocks_total += len(bufs)

    n_decoded = 0

    def full(tm: list) -> tuple[np.ndarray, np.ndarray]:
        """The term's whole posting list (idx ascending), decoded once."""
        nonlocal n_decoded
        if tm[3] is None:
            parts = [unpack_block(d, w, int(n)) for d, w, n in tm[2]]
            if len(parts) == 1:
                tm[3] = (parts[0][0] - base, parts[0][1])
            else:
                tm[3] = (
                    np.concatenate([p[0] for p in parts]) - base,
                    np.concatenate([p[1] for p in parts]),
                )
            n_decoded += len(tm[2])
        return tm[3]

    acc = np.zeros(segment_docs, dtype=np.float64)
    out_q: list[str] = []
    out_d: list[int] = []
    out_s: list[float] = []
    for qid, qterms in queries:
        # per-query MaxScore: terms descending by upper bound; once the
        # remaining terms' ub-sum falls below a running lower bound θ of
        # the final kth score, STOP scattering — docs not yet touched
        # cannot enter the top-k, and the skipped terms' contributions to
        # surviving candidates are repaired exactly afterwards.
        present = [
            (qw * meta[t][4], t, qw)
            for t, qw in qterms
            if t in meta and meta[t][4] > 0.0
        ]
        if not present:
            continue
        present.sort(key=lambda x: (-x[0], x[1]))
        ubs = np.array([p[0] for p in present])
        suffix = np.concatenate((np.cumsum(ubs[::-1])[::-1], [0.0]))
        acc.fill(0.0)
        theta = floor = 0.0  # floor = θ less the rounding slack
        theta_set = False
        cut = len(present)
        for i, (_ub, term, qw) in enumerate(present):
            if theta_set and suffix[i] < floor:
                cut = i  # remaining terms cannot create new top-k docs
                break
            sidx, swts = full(meta[term])
            acc[sidx] += qw * swts
            # cheap θ lower bound: kth largest of the LIVE accs on the
            # postings scattered so far (a subset's kth is ≤ the global
            # kth, so pruning stays safe; dead docs excluded or θ would
            # overstate and prune true post-delete winners)
            vals = acc[sidx] if alive is None else acc[sidx[alive[sidx]]]
            if len(vals) >= top_k:
                kth = np.partition(vals, len(vals) - top_k)[len(vals) - top_k]
                if kth > 0:
                    theta = max(theta, float(kth))
                    theta_set = True
                    floor = theta * (1.0 - _BOUND_SLACK)
        live = np.flatnonzero(acc > 0)
        if alive is not None and len(live):
            live = live[alive[live]]
        if len(live) == 0:
            continue
        if cut < len(present):
            # candidate filter with the skipped tail's ub, then exact
            # repair of those terms on survivors only.  The coverage test
            # runs on block METADATA (searchsorted over the sorted
            # non-overlapping ranges): a cut term none of whose blocks
            # contains a surviving candidate is never decoded at all.
            rem = float(suffix[cut])
            live = live[acc[live] + rem >= floor]
            for _, term, qw in present[cut:]:
                tm = meta[term]
                if tm[3] is None:
                    bmin, bmax = tm[0], tm[1]
                    pos = np.searchsorted(bmin, live, side="right") - 1
                    cov = pos >= 0
                    cov[cov] = live[cov] <= bmax[pos[cov]]
                    if not cov.any():
                        continue  # no candidate in any block range: skip
                fidx, fwts = full(tm)
                p = np.searchsorted(fidx, live)
                ok = p < len(fidx)
                ok[ok] = fidx[p[ok]] == live[ok]
                acc[live[ok]] += qw * fwts[p[ok]]
        scores = acc[live]
        if len(live) > top_k:
            kth = np.partition(scores, len(scores) - top_k)[len(scores) - top_k]
            sel = scores >= kth  # keep k-boundary ties
            live, scores = live[sel], scores[sel]
        out_q.extend([qid] * len(live))
        out_d.extend((live + base).tolist())
        out_s.extend(scores.tolist())
    return out_q, out_d, out_s, blocks_total, n_decoded


def wand_search_many_scores(
    spark: SparkSession,
    postings: DataFrame,
    queries_terms: dict[str, list[tuple[str, float]]],
    segment_docs: int,
    top_k: int = 10,
    deleted: DataFrame | None = None,
    use_cosine: bool = False,
    term_id_seed: int = 0,
    snapshot_max: int | None = None,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Batch retrieval: (query_id, doc_int, score) per-segment top-k
    candidates for EVERY query in one pass.

    ``allowed`` is the filtered-retrieval inclusion set, shared by every
    query in the batch (see ``wand_search_scores`` — same wire format,
    same exactness argument, ONE pack for the whole batch).

    The SQL batch path multiplies each posting row by every query sharing
    its term (a Zipfian head term × 100 queries → 10^8 joined rows).  Here
    each segment's blocks for the union of query terms are decoded AT MOST
    once (decode-once per term — see ``_batch_segment``; terms no query needs stay
    packed) and scattered into per-query dense accumulators — work is
    O(Σ_term needed-block decode + Σ_(term,query) postings_in_segment)
    with no join blowup materialized, and only per-segment top-k rows
    leave the kernel.
    """
    b_queries, wcol, mcol, pruned = _prepared(
        spark, postings, queries_terms, segment_docs, deleted, use_cosine,
        term_id_seed, allowed=allowed,
    )

    def score(seg: int, g: pd.DataFrame, base: int, mask: dict) -> pd.DataFrame:
        out_q, out_d, out_s, _, _ = _batch_segment(
            g, b_queries.value, base, segment_docs, top_k,
            wcol=wcol, mcol=mcol, **mask,
        )
        return pd.DataFrame({"query_id": out_q, "doc_int": out_d, "score": out_s})

    return _per_segment(
        pruned, segment_docs, snapshot_max, allowed is not None, score,
        "query_id STRING, doc_int LONG, score DOUBLE",
    )


def wand_batch_profile(
    spark: SparkSession,
    postings: DataFrame,
    queries_terms: dict[str, list[tuple[str, float]]],
    segment_docs: int,
    top_k: int = 10,
    deleted: DataFrame | None = None,
    use_cosine: bool = False,
    term_id_seed: int = 0,
    snapshot_max: int | None = None,
) -> DataFrame:
    """Instrumented batch run: per-segment (blocks_total, blocks_decoded)
    for the same exact computation — the probe behind the
    ``batch_block_decode_ratio`` bench entry (terms no query in the batch
    scattered or repaired through stay packed)."""
    b_queries, wcol, mcol, pruned = _prepared(
        spark, postings, queries_terms, segment_docs, deleted, use_cosine,
        term_id_seed,
    )

    def profile(seg: int, g: pd.DataFrame, base: int, mask: dict) -> pd.DataFrame:
        _, _, _, total, decoded = _batch_segment(
            g, b_queries.value, base, segment_docs, top_k,
            wcol=wcol, mcol=mcol, **mask,
        )
        return _blocks_row(seg, total, decoded)

    return _per_segment(
        pruned, segment_docs, snapshot_max, False, profile, _PROFILE_SCHEMA
    )
