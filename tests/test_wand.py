"""WAND-path equivalence: the block-max pruned kernel must be rank- and
score-identical to the SQL path and the oracle on every fixture
(SURVEY.md §7 step 5)."""

import numpy as np
import pytest

from splade_easy_spark.config import IndexConfig
from splade_easy_spark.data import generate_transcripts, generate_query_set
from splade_easy_spark.index import build_index
from splade_easy_spark.query import Searcher
from splade_easy_spark.query.wand import _score_segment
import pandas as pd

from tests.oracle import BM25Oracle, assert_topk_matches

CFG = IndexConfig(build_partitions=8, term_buckets=16, segment_docs=128, block_size=32)


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    idx_dir = str(tmp_path_factory.mktemp("wand") / "index")
    tx = generate_transcripts(spark, num_convs=25, seed=7)
    build_index(spark, tx, idx_dir, CFG)
    from pyspark.sql import functions as F

    docs = {
        r["doc_id"]: r["text"]
        for r in tx.select(
            F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("doc_id"), "text"
        ).collect()
    }
    return idx_dir, BM25Oracle(docs)


def test_wand_equals_sql_and_oracle(corpus, spark):
    idx_dir, oracle = corpus
    s = Searcher(spark, idx_dir, CFG)
    for q in generate_query_set(20, seed=99):
        sql_rows = [(r["doc_id"], r["score"]) for r in s.search(q["text"], top_k=10).collect()]
        wand_rows = [
            (r["doc_id"], r["score"])
            for r in s.search(q["text"], top_k=10, method="wand").collect()
        ]
        expected = oracle.search(q["text"], top_k=10)
        # packed weights are float32 (reference wire format, schema.fbs:15);
        # accumulate float64 — compare at the reference's 1e-5 tolerance
        # (tests/test_scoring.py:20)
        assert_topk_matches(wand_rows, expected, 10, tol=1e-5)
        assert len(wand_rows) == len(sql_rows)
        for (wd, ws), (sd, ss) in zip(wand_rows, sql_rows):
            assert abs(ws - ss) <= 1e-5 * max(1.0, abs(ss))


def test_wand_respects_tombstones(corpus, spark):
    idx_dir, oracle = corpus
    from splade_easy_spark.index.maintenance import delete

    s = Searcher(spark, idx_dir, CFG)
    q = "baba0 ceba1"
    before = s.search(q, top_k=3, method="wand").collect()
    assert before
    victim = before[0]["doc_id"]
    delete(spark, idx_dir, [victim])
    after = [r["doc_id"] for r in s.search(q, top_k=3, method="wand").collect()]
    assert victim not in after
    expected = oracle.search(q, top_k=3, deleted={victim})
    assert_topk_matches([(r["doc_id"], r["score"]) for r in s.search(q, 3, method="wand").collect()], expected, 3)


def test_segment_kernel_pruning_exactness():
    """Unit-level: randomized segment, kernel top-k == brute force."""
    rng = np.random.default_rng(0)
    seg_docs, n_terms = 512, 12
    rows = []
    truth = np.zeros(seg_docs)
    qw_map = {}
    from splade_easy_spark.index.postings import pack_postings

    for t in range(n_terms):
        term = f"t{t}"
        qw_map[term] = float(rng.uniform(0.5, 2.0))
        n_post = int(rng.integers(5, seg_docs))
        docs = np.sort(rng.choice(seg_docs, size=n_post, replace=False)).astype(np.int64)
        wts = rng.uniform(0.01, 3.0, size=n_post)
        truth[docs] += qw_map[term] * wts.astype(np.float32).astype(np.float64)
        for b in pack_postings(docs, wts, 32):
            rows.append(
                {
                    "seg": 0, "term_id": term, "block_id": b["block_id"], "n": b["n"],
                    "doc_min": b["doc_min"], "doc_max": b["doc_max"],
                    "max_weight": b["max_weight"], "docs": b["docs"], "wts": b["wts"],
                }
            )
    g = pd.DataFrame(rows)
    d, s, bt, bd = _score_segment(g, qw_map, 0, seg_docs, 10, None)
    order = np.lexsort((np.arange(seg_docs), -truth))[:10]
    assert list(d)[:10] == [int(i) for i in order]
    assert np.allclose(s[:10], truth[order], rtol=1e-7)
    assert bd <= bt


def _mk_rows(term_postings, block_size=4):
    """term_postings: {term: [(doc, w), ...]} → postings rows + qw_map=1.0.

    The kernels group on the ``term_id`` column but are key-type agnostic
    (the live path feeds int64 hashes; these unit fixtures keep readable
    string keys)."""
    from splade_easy_spark.index.postings import pack_postings

    rows = []
    for term, posts in term_postings.items():
        docs = np.array([p[0] for p in posts], dtype=np.int64)
        wts = np.array([p[1] for p in posts], dtype=np.float64)
        for b in pack_postings(docs, wts, block_size):
            rows.append(
                {
                    "seg": 0, "term_id": term, "block_id": b["block_id"], "n": b["n"],
                    "doc_min": b["doc_min"], "doc_max": b["doc_max"],
                    "max_weight": b["max_weight"], "docs": b["docs"], "wts": b["wts"],
                }
            )
    return pd.DataFrame(rows)


def test_kernel_candidate_mode_with_deleted_top_doc():
    """Regression (round-1 ADVICE, high): a tombstoned doc in the running
    top-k must not inflate θ and prune the true post-delete winner.

    term a: doc0 has a huge weight (θ would lock to it), docs 1..7 weight 1;
    term b: doc5 weight 0.9.  With doc0 deleted, the true top-1 is doc5
    (1.0 + 0.9); the buggy kernel kept θ=10 from the dead doc and skipped
    term b's block."""
    g = _mk_rows(
        {
            "a": [(0, 10.0)] + [(i, 1.0) for i in range(1, 8)],
            "b": [(5, 0.9)],
        }
    )
    qw = {"a": 1.0, "b": 1.0}
    # sanity without deletes: doc0 wins
    d, s, _, _ = _score_segment(g, qw, 0, 16, 1, None)
    assert int(d[0]) == 0
    # with doc0 tombstoned: doc5 must win with its EXACT score
    d, s, _, _ = _score_segment(g, qw, 0, 16, 1, np.array([0], dtype=np.int64))
    assert int(d[0]) == 5
    assert abs(float(s[0]) - (1.0 + np.float32(0.9))) < 1e-6
    assert 0 not in set(int(x) for x in d)


def test_kernel_randomized_with_deletes():
    """Randomized segments with random tombstones: kernel == brute force."""
    rng = np.random.default_rng(42)
    from splade_easy_spark.index.postings import pack_postings

    for trial in range(8):
        seg_docs = int(rng.integers(64, 512))
        n_terms = int(rng.integers(2, 10))
        truth = np.zeros(seg_docs)
        qw_map, rows = {}, []
        for t in range(n_terms):
            term = f"t{t}"
            qw_map[term] = float(rng.uniform(0.5, 2.0))
            n_post = int(rng.integers(3, seg_docs))
            docs = np.sort(rng.choice(seg_docs, size=n_post, replace=False)).astype(np.int64)
            wts = rng.uniform(0.01, 3.0, size=n_post)
            truth[docs] += qw_map[term] * wts.astype(np.float32).astype(np.float64)
            for b in pack_postings(docs, wts, 16):
                rows.append(
                    {
                        "seg": 0, "term_id": term, "block_id": b["block_id"], "n": b["n"],
                        "doc_min": b["doc_min"], "doc_max": b["doc_max"],
                        "max_weight": b["max_weight"], "docs": b["docs"], "wts": b["wts"],
                    }
                )
        k = int(rng.integers(1, 12))
        dead = rng.choice(seg_docs, size=int(rng.integers(0, seg_docs // 4 + 1)), replace=False)
        masked = truth.copy()
        masked[dead.astype(np.int64)] = 0.0
        d, s, bt, bd = _score_segment(
            pd.DataFrame(rows), qw_map, 0, seg_docs, k, dead.astype(np.int64)
        )
        expect = np.lexsort((np.arange(seg_docs), -masked))
        expect = [int(i) for i in expect[: k] if masked[i] > 0]
        assert list(d)[: len(expect)] == expect, f"trial {trial}"
        assert np.allclose(s[: len(expect)], masked[expect], rtol=1e-7)
        assert bd <= bt


def test_kernel_keeps_kth_ties():
    """k-boundary ties must all survive the per-segment cut so the global
    (score DESC, doc_id ASC) order resolves them (round-1 ADVICE, low)."""
    g = _mk_rows({"a": [(1, 2.0), (2, 1.0), (3, 1.0), (4, 1.0), (5, 0.5)]})
    d, s, _, _ = _score_segment(g, {"a": 1.0}, 0, 8, 2, None)
    # top-2 cut lands on the 1.0 tie group: all three tied docs kept
    assert list(d) == [1, 2, 3, 4]
    assert [round(float(x), 6) for x in s] == [2.0, 1.0, 1.0, 1.0]


def test_wand_profile_blocks_skipped(corpus, spark):
    """The instrumented kernel must report real pruning on a skewed corpus
    and stay exact (wand_profile shares _score_segment with the live path)."""
    idx_dir, _ = corpus
    from splade_easy_spark.query.wand import wand_profile
    from splade_easy_spark.query.searcher import analyze_query

    s = Searcher(spark, idx_dir, CFG)
    terms = analyze_query("baba0 ceba1 dada2", CFG)
    postings = s.cat.read(spark, "postings")
    prof = wand_profile(spark, postings, terms, CFG.segment_docs, top_k=3).collect()
    total = sum(r["blocks_total"] for r in prof)
    decoded = sum(r["blocks_decoded"] for r in prof)
    assert total > 0 and 0 < decoded <= total


def _batch_hits(s, queries, **kw) -> dict[str, list[tuple[str, float]]]:
    """search_many rows as {query_id: [(doc_id, score), ...]} in rank order."""
    got: dict[str, list[tuple[str, float]]] = {}
    for r in s.search_many(queries, **kw).collect():
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return got


def _assert_same_hits(sql, wand):
    """Same query ids, same docs in the same order per query, and scores
    equal up to the float32 packed-weight error."""
    assert set(sql) == set(wand)
    for qid in sql:
        assert [d for d, _ in sql[qid]] == [d for d, _ in wand[qid]], qid
        for (_, a), (_, b) in zip(sql[qid], wand[qid]):
            assert abs(a - b) <= 1e-5 * max(1.0, abs(a))


def test_batch_wand_equals_batch_sql(corpus, spark):
    idx_dir, oracle = corpus
    s = Searcher(spark, idx_dir, CFG)
    queries = [{"query_id": f"q{i}", "text": q["text"]} for i, q in enumerate(generate_query_set(12, seed=31))]
    _assert_same_hits(
        _batch_hits(s, queries, top_k=5, method="sql"),
        _batch_hits(s, queries, top_k=5, method="wand"),
    )


def test_batch_wand_prune_repair_exact(corpus, spark):
    """Force the batch kernel's MaxScore cut + repair (queries with many
    skewed-ub terms) and assert exact equality with the SQL batch path.
    (Runs against whatever tombstones the module fixture has accumulated —
    both paths see the same deleted table, so equality still pins the
    kernel's tombstone handling.)"""
    from splade_easy_spark.index.maintenance import delete
    from splade_easy_spark.data.transcripts import make_vocab

    idx_dir, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    vocab = make_vocab()
    # long queries (many terms) make the ub tail prunable
    queries = [
        {"query_id": f"lq{i}", "text": " ".join(vocab[i * 7 % 40 : i * 7 % 40 + 12])}
        for i in range(8)
    ]

    for k in (3, 10):
        _assert_same_hits(
            _batch_hits(s, queries, top_k=k, method="sql"),
            _batch_hits(s, queries, top_k=k, method="wand"),
        )


def test_batch_segment_unsorted_rows_exact():
    """Regression (round-2 ADVICE, high): the batch kernel must sort each
    term's block rows by doc_min before use — after the seg shuffle (and on
    appended multi-file indexes) rows arrive in arbitrary order, and an
    unsorted concatenation corrupts the searchsorted repair whenever the
    MaxScore cut fires.  Feed deliberately REVERSED block order and force
    the cut with a skewed-ub term tail; compare against brute force."""
    from splade_easy_spark.query.wand import _batch_segment

    rng = np.random.default_rng(3)
    seg_docs = 256
    truth: dict[str, np.ndarray] = {}
    qw_map = {}
    frames = []
    from splade_easy_spark.index.postings import pack_postings

    for t in range(10):
        term = f"t{t}"
        qw_map[term] = float(rng.uniform(0.1, 2.0)) * (10.0 if t == 0 else 1.0)
        n_post = int(rng.integers(40, seg_docs))
        docs = np.sort(rng.choice(seg_docs, size=n_post, replace=False)).astype(np.int64)
        wts = rng.uniform(0.01, 3.0, size=n_post)
        acc = np.zeros(seg_docs)
        acc[docs] = qw_map[term] * wts.astype(np.float32).astype(np.float64)
        truth[term] = acc
        rows = []
        for b in pack_postings(docs, wts, 8):
            rows.append(
                {
                    "seg": 0, "term_id": term, "block_id": b["block_id"], "n": b["n"],
                    "doc_min": b["doc_min"], "doc_max": b["doc_max"],
                    "max_weight": b["max_weight"], "docs": b["docs"], "wts": b["wts"],
                }
            )
        frames.append(pd.DataFrame(rows).iloc[::-1])  # REVERSED block order
    g = pd.concat(frames, ignore_index=True)
    queries = [
        ("q0", sorted(qw_map.items())),  # all terms: skewed ub forces the cut
        ("q1", [("t1", qw_map["t1"]), ("t2", qw_map["t2"])]),
    ]
    out_q, out_d, out_s, bt, bd = _batch_segment(
        g, queries, 0, seg_docs, 5, None, "wts", "max_weight"
    )
    assert bd <= bt
    got: dict[str, list] = {}
    for q, d, s in zip(out_q, out_d, out_s):
        got.setdefault(q, []).append((d, s))
    for qid, qterms in queries:
        total = np.sum([truth[t] for t, _ in qterms], axis=0)
        order = np.lexsort((np.arange(seg_docs), -total))
        expect = [int(i) for i in order[:5] if total[i] > 0]
        rows = sorted(got[qid], key=lambda r: (-r[1], r[0]))
        assert [d for d, _ in rows][: len(expect)] == expect, qid
        assert np.allclose([s for _, s in rows][: len(expect)], total[expect], rtol=1e-7)


def test_batch_wand_appended_multifile_index(spark, tmp_path):
    """Batch WAND on an APPENDED index (multiple parquet files per segment,
    Spark's read order by size ≠ doc order) must equal the SQL batch path —
    the round-2 high-severity gap: no batch test exercised multi-file
    postings, where the repair step saw unsorted doc ids."""
    from splade_easy_spark.index.append import append_documents
    from splade_easy_spark.data.transcripts import make_vocab

    idx_dir = str(tmp_path / "index")
    tx = generate_transcripts(spark, num_convs=18, seed=11)
    build_index(spark, tx, idx_dir, CFG)
    for seed in (12, 13):  # two appends → ≥3 files' runs per hot (seg, term)
        append_documents(spark, idx_dir, generate_transcripts(spark, num_convs=6, seed=seed), CFG)

    s = Searcher(spark, idx_dir, CFG)
    vocab = make_vocab()
    queries = [{"query_id": f"q{i}", "text": q["text"]} for i, q in enumerate(generate_query_set(8, seed=21))]
    # long queries force the MaxScore cut + repair on the appended layout
    queries += [
        {"query_id": f"lq{i}", "text": " ".join(vocab[i * 5 % 40 : i * 5 % 40 + 12])}
        for i in range(6)
    ]

    for k in (3, 10):
        _assert_same_hits(
            _batch_hits(s, queries, top_k=k, method="sql"),
            _batch_hits(s, queries, top_k=k, method="wand"),
        )


def test_batch_profile_skips_block_decodes(corpus, spark):
    """Decode-once batch kernel (round-4 simplification): a term that every
    query MaxScore-cuts, whose block ranges cover no surviving candidate,
    must never be decoded — checked with block METADATA only.  (The round-3
    per-block lazy cache measured 0.97–1.00 decode ratio across 5k/50k
    vocabularies and 100–500-query batches, so whole-term decode-once with
    a metadata coverage check is the round-4 policy.)"""
    from splade_easy_spark.query.wand import _batch_segment

    # term X dominates (doc0=10, doc1=5); term Y is weak (ub=qw·max=1e-4)
    # and lives in a doc range [100..103] far from X's docs, so after the
    # cut no candidate falls inside Y's block range → Y stays packed.
    g = _mk_rows(
        {
            "X": [(0, 10.0), (1, 5.0)],
            "Y": [(100, 0.01), (101, 0.01), (102, 0.01), (103, 0.01)],
        },
        block_size=4,
    )
    queries = [("q0", [("X", 1.0), ("Y", 0.01)])]
    out_q, out_d, out_s, total, decoded = _batch_segment(
        g, queries, 0, 256, 1, None, "wts", "max_weight"
    )
    assert out_d == [0] and abs(out_s[0] - 10.0) < 1e-6
    x_blocks = 1  # 2 postings, block_size=4
    y_blocks = 1
    assert total == x_blocks + y_blocks
    assert decoded == x_blocks, "cut term with no covered candidate was decoded"

    # and when a candidate DOES fall in the cut term's range, it is decoded
    # and repaired exactly
    g2 = _mk_rows(
        {
            "X": [(0, 10.0), (1, 5.0)],
            "Y": [(0, 0.01), (101, 0.01)],
        },
        block_size=4,
    )
    out_q, out_d, out_s, total2, decoded2 = _batch_segment(
        g2, [("q0", [("X", 1.0), ("Y", 0.01)])], 0, 256, 1, None, "wts", "max_weight"
    )
    assert out_d == [0] and abs(out_s[0] - (10.0 + 0.01 * np.float32(0.01))) < 1e-6
    assert decoded2 == total2 == 2


def test_cosine_wand_equals_cosine_sql(corpus, spark):
    """Cosine through the packed kernel (normalized weight stream) must be
    rank- and score-identical to the SQL path's dot/(|d||q|)."""
    idx_dir, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    for q in generate_query_set(12, seed=5):
        sql_rows = [
            (r["doc_id"], r["score"])
            for r in s.search(q["text"], top_k=10, use_cosine=True).collect()
        ]
        wand_rows = [
            (r["doc_id"], r["score"])
            for r in s.search(q["text"], top_k=10, use_cosine=True, method="wand").collect()
        ]
        assert [d for d, _ in wand_rows] == [d for d, _ in sql_rows]
        for (_, a), (_, b) in zip(wand_rows, sql_rows):
            assert abs(a - b) <= 1e-5 * max(1.0, abs(b))  # float32 packed


def test_cosine_batch_wand_equals_sql(corpus, spark):
    idx_dir, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    queries = [
        {"query_id": f"cq{i}", "text": q["text"]}
        for i, q in enumerate(generate_query_set(8, seed=77))
    ]
    _assert_same_hits(
        _batch_hits(s, queries, top_k=5, use_cosine=True, method="sql"),
        _batch_hits(s, queries, top_k=5, use_cosine=True, method="wand"),
    )


from hypothesis import example, given, settings
from hypothesis import strategies as st


@st.composite
def _segment_case(draw):
    """Random segment: terms with sorted unique doc subsets + weights,
    random block size, query weights, tombstones, k."""
    seg_docs = draw(st.integers(8, 96))
    n_terms = draw(st.integers(1, 5))
    terms = {}
    for t in range(n_terms):
        docs = sorted(
            draw(
                st.sets(st.integers(0, seg_docs - 1), min_size=1, max_size=seg_docs)
            )
        )
        wts = [
            draw(st.floats(0.01, 8.0, allow_nan=False)) for _ in docs
        ]
        terms[f"t{t}"] = list(zip(docs, wts))
    qw = {
        t: draw(st.floats(0.1, 4.0, allow_nan=False)) for t in terms
    }
    dead = sorted(draw(st.sets(st.integers(0, seg_docs - 1), max_size=seg_docs // 2)))
    block_size = draw(st.integers(1, 8))
    k = draw(st.integers(1, 6))
    # as-of-open snapshot watermark in segment-local coordinates (None =
    # no snapshot bound); docs >= wm must behave exactly like tombstones
    wm = draw(st.one_of(st.none(), st.integers(0, seg_docs)))
    return seg_docs, terms, qw, dead, block_size, k, wm


def _truth(seg_docs, terms, qw, dead, wm=None):
    acc = np.zeros(seg_docs)
    for t, posts in terms.items():
        for d, w in posts:
            acc[d] += qw[t] * np.float64(np.float32(w))
    alive = np.ones(seg_docs, dtype=bool)
    alive[dead] = False
    if wm is not None:
        alive[wm:] = False
    return acc, alive


def _check_exact(d_out, s_out, acc, alive, k):
    """Kernel contract: every returned (doc, score) is the exact score of a
    live doc; all k-boundary ties kept; every live doc strictly above the
    smallest returned score is present; and at least min(k, live scoring
    docs) rows come back (an empty or k−1 result is a dropped k-th doc)."""
    assert len(d_out) == len(set(int(x) for x in d_out))
    assert len(d_out) >= min(k, int(np.count_nonzero(alive & (acc > 0))))
    for doc, score in zip(d_out, s_out):
        assert alive[int(doc)]
        assert abs(score - acc[int(doc)]) < 1e-6 * max(1.0, abs(acc[int(doc)]))
    live_scores = sorted((acc[i] for i in np.flatnonzero(alive & (acc > 0))), reverse=True)
    if not live_scores:
        assert len(d_out) == 0
        return
    kth = live_scores[min(k, len(live_scores)) - 1]
    returned = {int(x) for x in d_out}
    for i in np.flatnonzero(alive & (acc > 0)):
        if acc[i] > kth + 1e-9:
            assert int(i) in returned
    assert all(s >= kth - 1e-9 for s in s_out)


#: a k-th doc whose partial score equals θ while its per-candidate bound,
#: lowered one retired term at a time by subtraction, ends a few ulps
#: below zero — a strict bound test cut the only live winner (doc 0,
#: 30.00846164) and returned zero rows
_KTH_DROP_WEIGHTS = [
    2.836458444595337, 2.6184005737304688, 2.256857395172119, 0.7683194875717163,
]
_KTH_DROP_CASE = (
    8,
    {
        "t0": [(0, _KTH_DROP_WEIGHTS[0]), (1, _KTH_DROP_WEIGHTS[0] / 2)],
        "t1": [(0, _KTH_DROP_WEIGHTS[1])],
        "t2": [(0, _KTH_DROP_WEIGHTS[2])],
        "t3": [(0, _KTH_DROP_WEIGHTS[3])],
    },
    {
        "t0": 5.478642167304619,
        "t1": 2.0324243930712083,
        "t2": 2.7270948693773076,
        "t3": 3.8944155813390053,
    },
    [],
    4,
    1,
    None,
)


@settings(max_examples=40, deadline=None)
@given(_segment_case())
@example(_KTH_DROP_CASE)
def test_score_segment_exactness_property(case):
    """Property-based: the single-query kernel is exact (scores, tombstone
    masking, snapshot-watermark masking, tie retention, no dropped k-th
    doc) on arbitrary segments — hypothesis shrinks the seeded randomized
    test's blind spots (1-posting terms, all-tied weights, half-dead
    segments, block_size=1, watermarks splitting a block)."""
    seg_docs, terms, qw, dead, block_size, k, wm = case
    g = _mk_rows(terms, block_size=block_size)
    acc, alive = _truth(seg_docs, terms, qw, dead, wm)
    d, s, bt, bd = _score_segment(
        g, qw, 0, seg_docs, k,
        np.array(dead, dtype=np.int64) if dead else None,
        wm_local=wm,
    )
    assert bd <= bt
    _check_exact(d, s, acc, alive, k)


@settings(max_examples=25, deadline=None)
@given(_segment_case(), st.integers(1, 3))
def test_batch_segment_exactness_property(case, n_queries):
    """Property-based: the decode-once batch kernel matches the same
    contract for every query in the batch (shared decode state must never
    leak a previous query's accumulator)."""
    from splade_easy_spark.query.wand import _batch_segment

    seg_docs, terms, qw, dead, block_size, k, wm = case
    g = _mk_rows(terms, block_size=block_size)
    tnames = sorted(terms)
    queries = []
    for qi in range(n_queries):
        sub = tnames[qi % len(tnames):]  # varying term subsets per query
        queries.append((f"q{qi}", sorted((t, qw[t]) for t in sub)))
    out_q, out_d, out_s, bt, bd = _batch_segment(
        g, queries, 0, seg_docs, k,
        np.array(dead, dtype=np.int64) if dead else None,
        "wts", "max_weight",
        wm_local=wm,
    )
    assert bd <= bt
    per_q: dict = {}
    for qid, doc, score in zip(out_q, out_d, out_s):
        per_q.setdefault(qid, ([], []))
        per_q[qid][0].append(doc)
        per_q[qid][1].append(score)
    for qid, qterms in queries:
        sub_terms = {t: terms[t] for t, _ in qterms}
        acc, alive = _truth(seg_docs, sub_terms, dict(qterms), dead, wm)
        d_out, s_out = per_q.get(qid, ([], []))
        _check_exact(d_out, s_out, acc, alive, k)


def test_term_bounds_dominate_every_packed_weight(corpus, spark):
    """The driver-side per-term bound (idf · max_tf·(k1+1)/(max_tf+k1·(1−b)))
    must dominate every doc-side weight actually indexed — the soundness
    condition for both the exact OOV drop and the approximate tail cut."""
    idx_dir, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    bounds = s._term_bounds()
    assert bounds, "small fixture vocab must load"
    from pyspark.sql import functions as F

    actual = {
        r["term"]: r["mx"]
        for r in s.doc_terms.groupBy("term").agg(F.max("weight").alias("mx")).collect()
    }
    assert set(actual) <= set(bounds)
    for t, mx in actual.items():
        assert bounds[t] >= mx - 1e-9, (t, bounds[t], mx)


def test_oov_drop_exact_batch_and_single(corpus, spark):
    """Queries salted with out-of-vocabulary garbage: the driver-side drop
    shrinks the scan list with results identical to the SQL path (which
    ships the OOV terms and matches nothing), in both batch and — once the
    vocab map is cached — single-query search."""
    idx_dir, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    base = generate_query_set(8, seed=77)
    queries = [
        {"query_id": f"q{i}", "text": q["text"] + " zzqx9 plorvax unseen_tok"}
        for i, q in enumerate(base)
    ]
    _assert_same_hits(
        _batch_hits(s, queries, top_k=5, method="sql"),
        _batch_hits(s, queries, top_k=5, method="wand"),
    )
    bounds = s._term_bounds()
    assert "zzqx9" not in bounds and "plorvax" not in bounds
    # cache is now hot: the single-query path applies the same exact drop
    q = base[0]["text"] + " zzqx9 plorvax"
    sql1 = [(r["doc_id"], r["score"]) for r in s.search(q, top_k=5).collect()]
    wand1 = [
        (r["doc_id"], r["score"])
        for r in s.search(q, top_k=5, method="wand").collect()
    ]
    assert [d for d, _ in sql1] == [d for d, _ in wand1]
    for (_, a), (_, b) in zip(sql1, wand1):
        assert abs(a - b) <= 1e-5 * max(1.0, abs(a))
    # an all-OOV query matches nothing on either path
    assert s.search("zzqx9 plorvax", top_k=5, method="wand").count() == 0
    assert s.search_many(
        [{"query_id": "oov", "text": "zzqx9 plorvax"}], top_k=5, method="wand"
    ).count() == 0


def test_oov_drop_exact_cosine_qnorm(corpus, spark):
    """Cosine mode divides by the FULL query norm (OOV terms contribute to
    ‖q‖ in the SQL path though never to the dot) — the drop must shrink
    only the scan list, not the norm."""
    idx_dir, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    queries = [
        {"query_id": f"c{i}", "text": q["text"] + " zzqx9 plorvax"}
        for i, q in enumerate(generate_query_set(6, seed=55))
    ]
    _assert_same_hits(
        _batch_hits(s, queries, top_k=5, use_cosine=True, method="sql"),
        _batch_hits(s, queries, top_k=5, use_cosine=True, method="wand"),
    )


def test_term_bounds_vocab_cap_disables_pruning(corpus, spark):
    """Past TERM_BOUNDS_MAX_VOCAB the map is never collected (no driver-
    sized vocab at web scale) and batch results are unchanged."""
    idx_dir, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    s.TERM_BOUNDS_MAX_VOCAB = 0  # instance override
    assert s._term_bounds() is None
    queries = [
        {"query_id": f"q{i}", "text": q["text"]}
        for i, q in enumerate(generate_query_set(6, seed=88))
    ]
    _assert_same_hits(
        _batch_hits(s, queries, top_k=5, method="sql"),
        _batch_hits(s, queries, top_k=5, method="wand"),
    )


def test_prune_below_approximate_tail_cut(corpus, spark):
    """prune_below>0 is the documented APPROXIMATE knob: it must cut terms
    (fewer shipped), never raise a returned doc's score above its exact
    value, and converge to the exact result as the threshold → 0."""
    from splade_easy_spark.data.transcripts import make_vocab

    idx_dir, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    vocab = make_vocab()
    queries = [
        {"query_id": f"lq{i}", "text": " ".join(vocab[i * 5 % 40 : i * 5 % 40 + 14])}
        for i in range(6)
    ]
    def collect(method, **kw):
        return _batch_hits(s, queries, top_k=5, method=method, **kw)

    exact = collect("wand")
    # threshold below any realistic ratio: nothing cut, exactly equal
    eps = collect("wand", prune_below=1e-12)
    assert exact == eps
    # aggressive cut still returns well-formed results with scores never
    # exceeding the exact score of the same (query, doc)
    exact_scores = {(q, d): sc for q, rows in exact.items() for d, sc in rows}
    rough = collect("wand", prune_below=0.5)
    for qid, rows in rough.items():
        assert len(rows) <= 5
        for d, sc in rows:
            full = exact_scores.get((qid, d))
            if full is not None:
                assert sc <= full + 1e-6
    # the knob really prunes: per-query kept-term count shrinks
    bounds = s._term_bounds()
    from splade_easy_spark.query.searcher import analyze_query

    cut_any = False
    for q in queries:
        ts = [(t, w) for t, w in analyze_query(q["text"], CFG) if t in bounds]
        if not ts:
            continue
        thr = 0.5 * max(w * bounds[t] for t, w in ts)
        if sum(1 for t, w in ts if w * bounds[t] < thr):
            cut_any = True
    assert cut_any, "fixture queries must exercise the cut"


def test_kernel_allow_mask_composes_with_deletes_and_watermark():
    """Filtered retrieval at kernel grain: the inclusion mask bounds the
    eligible set, deletes and the snapshot watermark clear bits on top,
    and the result equals brute force over (allow − dead − post-wm)."""
    rng = np.random.default_rng(7)
    seg_docs, n_terms = 256, 8
    posts = {}
    truth = np.zeros(seg_docs)
    qw_map = {}
    for t in range(n_terms):
        term = f"t{t}"
        qw_map[term] = float(rng.uniform(0.5, 2.0))
        n_post = int(rng.integers(20, seg_docs))
        docs = np.sort(rng.choice(seg_docs, size=n_post, replace=False))
        wts = rng.uniform(0.01, 3.0, size=n_post)
        truth[docs] += qw_map[term] * wts.astype(np.float32).astype(np.float64)
        posts[term] = list(zip(docs.tolist(), wts.tolist()))
    g = _mk_rows(posts, block_size=16)
    allow = np.sort(rng.choice(seg_docs, size=90, replace=False))
    dead = np.sort(rng.choice(allow, size=15, replace=False))  # overlap allow
    wm = 200
    eligible = np.zeros(seg_docs, dtype=bool)
    eligible[allow] = True
    eligible[dead] = False
    eligible[wm:] = False
    masked = np.where(eligible, truth, -np.inf)
    order = np.lexsort((np.arange(seg_docs), -masked))[:10]
    order = [int(i) for i in order if masked[i] > 0]
    d, s, _, _ = _score_segment(
        g, qw_map, 0, seg_docs, 10, dead, wm_local=wm,
        allow_local=allow, allow_active=True,
    )
    assert list(d)[: len(order)] == order
    assert np.allclose(s[: len(order)], truth[order], rtol=1e-7)
    # active filter + empty allow set = nothing eligible
    d2, s2, _, _ = _score_segment(
        g, qw_map, 0, seg_docs, 10, None, allow_local=None, allow_active=True
    )
    assert len(d2) == 0
