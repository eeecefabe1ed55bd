"""End-to-end differential test: build index from synthetic transcripts,
search, compare against the NumPy oracle (reference-semantics restatement,
see tests/oracle.py) — the engine's rank-identity gate.

Mirrors the reference's own retriever test strategy
(``tests/test_retriever.py:50-127``: disk/memory parity, no-match empty,
top-k limit, return_text, score ordering) plus the differential oracle the
reference lacks (SURVEY.md §5)."""

import pytest
from pyspark.sql import functions as F

from splade_easy_spark.config import AnalyzerConfig, BM25Params, IndexConfig
from splade_easy_spark.data import generate_transcripts, generate_query_set
from splade_easy_spark.index import build_index
from splade_easy_spark.query import Searcher, analyze_query

from tests.oracle import BM25Oracle, assert_topk_matches

CFG = IndexConfig(build_partitions=8, term_buckets=16, segment_docs=256, block_size=64)


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """Small corpus: ~30 convs ≈ 1k turns, built once per module."""
    idx_dir = str(tmp_path_factory.mktemp("e2e") / "index")
    tx = generate_transcripts(spark, num_convs=30, seed=42)
    result = build_index(spark, tx, idx_dir, CFG)
    docs = {
        r["doc_id"]: r["text"]
        for r in tx.select(
            F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("doc_id"),
            "text",
        ).collect()
    }
    oracle = BM25Oracle(docs)
    return idx_dir, oracle, result


def _engine_topk(searcher, qtext, k, use_cosine=False):
    rows = searcher.search(qtext, top_k=k, use_cosine=use_cosine).collect()
    return [(r["doc_id"], r["score"]) for r in rows]


def test_build_stats(corpus, spark):
    idx_dir, oracle, result = corpus
    assert result.n_docs == oracle.n_docs
    assert abs(result.avgdl - oracle.avgdl) < 1e-6
    assert result.n_terms == len(oracle.df)


def test_search_matches_oracle_dot(corpus, spark):
    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    for q in generate_query_set()[:25]:
        engine = _engine_topk(s, q["text"], 10)
        expected = oracle.search(q["text"], top_k=10, use_cosine=False)
        assert_topk_matches(engine, expected, 10)


def test_search_matches_oracle_cosine(corpus, spark):
    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    for q in generate_query_set()[25:40]:
        engine = _engine_topk(s, q["text"], 10, use_cosine=True)
        expected = oracle.search(q["text"], top_k=10, use_cosine=True)
        assert_topk_matches(engine, expected, 10)


def test_no_match_returns_empty(corpus, spark):
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    assert s.search("zzzzneverseen qqqxw", top_k=5).count() == 0
    assert s.search("", top_k=5).count() == 0  # cf. test_retriever.py:76-86


def test_top_k_limit(corpus, spark):
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    assert s.search("baba0", top_k=3).count() <= 3  # cf. test_retriever.py:88-98


def test_return_text(corpus, spark):
    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    rows = s.search("baba0 ceba1", top_k=5, return_text=True).collect()
    assert rows, "expected hits"
    assert all("text" in r.asDict() and r["text"] is not None for r in rows)


def test_scores_descending_and_tiebreak(corpus, spark):
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    rows = s.search("baba0 ceba1", top_k=20).collect()
    for a, b in zip(rows, rows[1:]):
        assert a["score"] > b["score"] or (
            a["score"] == b["score"] and a["doc_id"] < b["doc_id"]
        )


def test_memory_mode_parity(corpus, spark):
    idx_dir, _, _ = corpus
    d = Searcher(spark, idx_dir, CFG, mode="disk")
    m = Searcher(spark, idx_dir, CFG, mode="memory")
    q = "baba0 ceba1 diba2"
    assert _engine_topk(d, q, 10) == _engine_topk(m, q, 10)  # cf. test_retriever.py:50-74


def test_duplicate_and_case_query_robustness(corpus, spark):
    """cf. test_retriever.py:210-230 — duplicated/unsorted query tokens."""
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    a = _engine_topk(s, "baba0 ceba1", 10)
    b = _engine_topk(s, "ceba1 baba0 CEBA1 baba0", 10)
    assert a == b


def test_search_many_consistent_with_single(corpus, spark):
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    queries = [{"query_id": f"q{i}", "text": t} for i, t in enumerate(["baba0", "ceba1 diba2", "zzznope"])]
    batch = s.search_many(queries, top_k=5)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for q in queries:
        single = _engine_topk(s, q["text"], 5)
        assert got.get(q["query_id"], []) == single


def test_point_get(corpus, spark):
    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    some_doc = next(iter(oracle.tf))
    row = s.get(some_doc)
    assert row is not None and row["doc_id"] == some_doc
    assert s.get("conv_99999999#0") is None
    batch = s.get_batch([some_doc, "conv_99999999#0"])
    assert batch.count() == 1


def test_doc_vector_matches_oracle(corpus, spark):
    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    doc = next(d for d in oracle.tf if oracle.dl[d] > 0)
    vec = dict(s.doc_vector(doc))
    expected = oracle.doc_vector(doc)
    assert set(vec) == set(expected)
    for t, w in expected.items():
        assert abs(vec[t] - w) < 1e-9 * max(1.0, abs(w))


def test_per_turn_text_equality(corpus, spark):
    """Driver invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering between input and the docs table."""
    idx_dir, _, _ = corpus
    tx = generate_transcripts(spark, num_convs=30, seed=42)
    docs = spark.read.parquet(f"{idx_dir}/docs")
    joined = tx.join(docs, ["conv_id", "turn_idx"], "full_outer").where(
        (tx["text"] != docs["text"]) | tx["text"].isNull() | docs["text"].isNull()
    )
    assert joined.count() == 0


def test_analyzer_mismatch_rejected(corpus, spark):
    idx_dir, _, _ = corpus
    bad = IndexConfig(analyzer=AnalyzerConfig(token_pattern="[a-z]+"))
    with pytest.raises(ValueError, match="analyzer mismatch"):
        Searcher(spark, idx_dir, bad)


def test_pack_cosine_off_build(spark, tmp_path):
    """pack_cosine=False skips the normalized-weight stream: BM25 WAND
    stays exact, cosine transparently answers through the SQL path (same
    results as a pack_cosine=True index), and doc_terms carries no tf."""
    cfg_off = IndexConfig(
        build_partitions=8, term_buckets=16, segment_docs=256, block_size=64,
        pack_cosine=False,
    )
    idx_off = str(tmp_path / "idx_off")
    idx_on = str(tmp_path / "idx_on")
    tx = generate_transcripts(spark, num_convs=12, seed=9)
    build_index(spark, tx, idx_off, cfg_off)
    build_index(spark, tx, idx_on, CFG)

    s_off = Searcher(spark, idx_off, cfg_off)
    s_on = Searcher(spark, idx_on, CFG)
    assert "tf" not in s_off.doc_terms.columns
    # the nwts columns exist (stable schema) but hold no stream
    post = s_off.cat.read(spark, "postings")
    assert post.where(F.length("nwts") > 0).limit(1).count() == 0

    for q in generate_query_set(6, seed=13):
        bm_sql = [(r["doc_id"], r["score"]) for r in s_off.search(q["text"], 5).collect()]
        bm_wand = [
            (r["doc_id"], r["score"])
            for r in s_off.search(q["text"], 5, method="wand").collect()
        ]
        assert [d for d, _ in bm_sql] == [d for d, _ in bm_wand]
        # cosine on the stripped index (falls back to SQL) == cosine on the
        # full index, either method
        cos_off = [
            (r["doc_id"], round(r["score"], 6))
            for r in s_off.search(q["text"], 5, use_cosine=True, method="wand").collect()
        ]
        cos_on = [
            (r["doc_id"], round(r["score"], 6))
            for r in s_on.search(q["text"], 5, use_cosine=True, method="wand").collect()
        ]
        assert [d for d, _ in cos_off] == [d for d, _ in cos_on]
        for (_, a), (_, b) in zip(cos_off, cos_on):
            assert abs(a - b) <= 1e-5 * max(1.0, abs(b))


def test_index_artifact_identical_across_parallelism(spark, tmp_path):
    """North-rule invariant: the index ARTIFACT is a pure function of the
    corpus — independent of build parallelism (doc_int = global rank via
    the two-pass assigner; weights from corpus stats; packing from sorted
    groups).  Build the same corpus at different build_partitions and
    compare logical table content: ids, stats, and packed posting BYTES
    must be identical (nwts compared at float32 resolution: the norm agg's
    summation order is partitioning-dependent)."""
    import numpy as np

    tx = generate_transcripts(spark, num_convs=10, seed=53)
    cfgs = {
        "a": IndexConfig(build_partitions=3, term_buckets=16, segment_docs=256, block_size=64),
        "b": IndexConfig(build_partitions=8, term_buckets=16, segment_docs=256, block_size=64),
    }
    rows = {}
    for name, cfg in cfgs.items():
        idx = str(tmp_path / name)
        build_index(spark, tx, idx, cfg)
        docs = sorted(
            (r["doc_id"], r["doc_int"], r["doc_len"])
            for r in spark.read.parquet(f"{idx}/docs").select("doc_id", "doc_int", "doc_len").collect()
        )
        tstats = sorted(
            (r["term"], r["df"], r["max_tf"], round(r["idf"], 10), r["term_id"])
            for r in spark.read.parquet(f"{idx}/term_stats").collect()
        )
        post = sorted(
            (
                (r["seg"], r["term_id"], r["block_id"]),
                (r["n"], r["doc_min"], r["doc_max"], bytes(r["docs"]), bytes(r["wts"])),
                bytes(r["nwts"]),
            )
            for r in spark.read.parquet(f"{idx}/postings").collect()
        )
        rows[name] = (docs, tstats, post)

    assert rows["a"][0] == rows["b"][0]  # docs: ids, ranks, lengths
    assert rows["a"][1] == rows["b"][1]  # term stats
    pa_, pb_ = rows["a"][2], rows["b"][2]
    assert [p[0] for p in pa_] == [p[0] for p in pb_]  # same block set
    assert [p[1] for p in pa_] == [p[1] for p in pb_]  # exact packed bytes
    for (_, _, na), (_, _, nb) in zip(pa_, pb_):
        xa = np.frombuffer(na, dtype=np.float32)
        xb = np.frombuffer(nb, dtype=np.float32)
        assert len(xa) == len(xb)
        assert np.allclose(xa, xb, rtol=1e-6, atol=1e-7)


def test_filtered_search_matches_postfilter(corpus, spark):
    """doc_filter = Lucene filter semantics: result equals the unfiltered
    full ranking post-filtered to eligible docs, with UNCHANGED scores
    (full-corpus idf — the filter narrows candidates, never statistics)."""
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    pred = F.col("role") == "user"
    allowed = {r["doc_id"] for r in s.docs.where(pred).select("doc_id").collect()}
    assert allowed, "fixture must have user turns"
    for q in generate_query_set()[:6]:
        full = [
            (r["doc_id"], r["score"])
            for r in s.search(q["text"], top_k=10**6).collect()
        ]
        expected = [(d, sc) for d, sc in full if d in allowed][:10]
        got = [
            (r["doc_id"], r["score"])
            for r in s.search(q["text"], top_k=10, doc_filter=pred).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in expected]
        for (_, gs), (_, es) in zip(got, expected):
            assert abs(gs - es) < 1e-9


def test_filtered_search_wand_in_kernel(corpus, spark):
    """WAND with a filter runs the kernel with a packed inclusion mask —
    results identical to the SQL path's semi-join (float32 packed weights
    vs double doc_terms: compare at 1e-5 like the other wand tests)."""
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    for pred in [F.col("turn_idx") % 2 == 0, F.col("role") == "user"]:
        for q in [x["text"] for x in generate_query_set()[5:9]]:
            via_wand = s.search(q, top_k=5, method="wand", doc_filter=pred).collect()
            via_sql = s.search(q, top_k=5, method="sql", doc_filter=pred).collect()
            assert [r["doc_id"] for r in via_wand] == [r["doc_id"] for r in via_sql]
            for a, b in zip(via_wand, via_sql):
                assert abs(a["score"] - b["score"]) < 1e-5
    # a filter matching nothing returns nothing (whole segments skipped)
    assert (
        s.search("baba0", top_k=5, method="wand", doc_filter=F.col("turn_idx") < 0).count()
        == 0
    )


def test_filtered_search_many_wand_in_kernel(corpus, spark):
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    pred = F.col("role") != "tool"
    queries = [
        {"query_id": f"q{i}", "text": q["text"]}
        for i, q in enumerate(generate_query_set()[14:18])
    ]
    w = s.search_many(queries, top_k=5, method="wand", doc_filter=pred).collect()
    g = s.search_many(queries, top_k=5, method="sql", doc_filter=pred).collect()
    kw = [(r["query_id"], r["rank"], r["doc_id"]) for r in w]
    kg = [(r["query_id"], r["rank"], r["doc_id"]) for r in g]
    assert kw == kg and kw
    for a, b in zip(w, g):
        assert abs(a["score"] - b["score"]) < 1e-5


def test_filtered_search_many(corpus, spark):
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    pred = F.col("role") == "assistant"
    queries = [{"query_id": f"q{i}", "text": q["text"]} for i, q in enumerate(generate_query_set()[10:14])]
    batch = s.search_many(queries, top_k=5, doc_filter=pred).collect()
    assert batch, "filtered batch returned nothing"
    by_qid = {}
    for r in batch:
        by_qid.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for i, q in enumerate(queries):
        single = [
            (r["doc_id"], r["score"])
            for r in s.search(q["text"], top_k=5, doc_filter=pred).collect()
        ]
        got = [(d, sc) for _, d, sc in sorted(by_qid.get(q["query_id"], []))]
        assert got == single


def test_facet_counts_matches_oracle(corpus, spark):
    """Faceting = matching-doc counts per stored column value, full match
    set (not top-k), tombstone-aware by construction."""
    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    roles = {r["doc_id"]: r["role"] for r in s.docs.select("doc_id", "role").collect()}
    for q in generate_query_set()[:4]:
        qv = oracle.query_terms(q["text"])
        expected = {}
        for d in oracle.tf:
            if oracle.score(qv, d) > 0:
                expected[roles[d]] = expected.get(roles[d], 0) + 1
        got = {r["facet"]: r["n_docs"] for r in s.facet_counts(q["text"], "role").collect()}
        assert got == expected
        # output ordering: desc count, asc facet
        rows = s.facet_counts(q["text"], "role").collect()
        assert [(r["facet"], r["n_docs"]) for r in rows] == sorted(
            got.items(), key=lambda kv: (-kv[1], kv[0])
        )


def test_more_like_this_matches_oracle(corpus, spark):
    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    sources = sorted(oracle.tf)[::201][:3]  # a few spread-out docs
    for src in sources:
        vec = oracle.doc_vector(src)
        top_terms = sorted(vec.items(), key=lambda kv: (-round(kv[1], 9), kv[0]))[:10]
        qv = dict(top_terms)
        scored = []
        for d in oracle.tf:
            if d == src:
                continue
            sc = oracle.score(qv, d)
            if sc > 0:
                scored.append((d, sc))
        scored.sort(key=lambda kv: (-kv[1], kv[0]))
        got = [
            (r["doc_id"], r["score"])
            for r in s.more_like_this(src, query_terms=10, top_k=10).collect()
        ]
        assert_topk_matches(got, scored[:30], 10)


def test_more_like_this_unknown_doc_raises(corpus, spark):
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    with pytest.raises(KeyError):
        s.more_like_this("no#such", top_k=3)


def test_unknown_method_rejected(corpus, spark):
    """Only 'sql' and 'wand' select an engine: any other method — a typo,
    or the name of a removed engine — raises before any Spark job
    instead of silently running the SQL path, on every verb taking one."""
    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    some_doc = next(iter(oracle.tf))
    calls = [
        lambda m: s.search("baba0 ceba1", method=m),
        lambda m: s.search_many([{"query_id": "q", "text": "baba0"}], method=m),
        lambda m: s.prefix_search("ba", method=m),
        lambda m: s.regex_search("ba.a0", method=m),
        lambda m: s.fuzzy_search("baba0", method=m),
        lambda m: s.more_like_this(some_doc, method=m),
        lambda m: s.search_snippets("baba0", method=m),
    ]
    for bad in ("WAND", "wandx", ""):
        for call in calls:
            with pytest.raises(ValueError, match="unknown method"):
                call(bad)


def test_phrase_search_index_matches_bruteforce(corpus, spark):
    """Index-backed phrase search = brute force: docs whose token stream
    contains the contiguous sequence, ranked by BM25 sum over the phrase's
    distinct terms."""
    from tests.oracle import tokenize as tok_py

    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    # derive a phrase that certainly occurs: first two tokens of a mid doc
    texts = {d: " ".join(tok_py(oracle_text)) for d, oracle_text in _fixture_texts(oracle).items()}
    src = sorted(texts)[100]
    phrase_toks = tok_py(texts[src])[:2]
    phrase = " ".join(phrase_toks)
    needle = " " + phrase + " "
    expected = []
    for d, toks_joined in texts.items():
        if needle in " " + toks_joined + " ":
            score = sum(oracle.doc_weight(t, d) for t in sorted(set(phrase_toks)))
            expected.append((d, score))
    expected.sort(key=lambda kv: (-kv[1], kv[0]))
    got = [(r["doc_id"], r["score"]) for r in s.phrase_search(phrase, top_k=10).collect()]
    assert_topk_matches(got, expected[:30], 10)
    assert got, "chosen phrase must match at least its source doc"


def _fixture_texts(oracle):
    # BM25Oracle stores tf Counters; reconstruct token streams is lossy —
    # keep original texts alongside instead
    return _FIXTURE_TEXTS


_FIXTURE_TEXTS = {}


@pytest.fixture(autouse=True, scope="module")
def _capture_texts(corpus, spark):
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    _FIXTURE_TEXTS.clear()
    _FIXTURE_TEXTS.update(
        {r["doc_id"]: r["text"] for r in s.docs.select("doc_id", "text").collect()}
    )


def test_search_snippets_index(corpus, spark):
    """Index-backed KWIC: pos = earliest query-term char position (1-based)
    in lower(text); snippet = the window; ranking identical to search."""
    idx_dir, _, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    q = generate_query_set()[3]["text"]
    qterms = [t for t, _ in __import__("splade_easy_spark.query.searcher", fromlist=["analyze_query"]).analyze_query(q)]
    base = [(r["doc_id"], r["score"]) for r in s.search(q, top_k=5).collect()]
    rows = s.search_snippets(q, top_k=5, before=4, width=20).collect()
    assert [(r["doc_id"], r["score"]) for r in rows] == base
    for r in rows:
        text = _FIXTURE_TEXTS[r["doc_id"]]
        hay = text.lower()
        positions = [hay.find(t) + 1 for t in qterms if hay.find(t) >= 0]
        assert positions, "a hit must contain a query term"
        assert r["pos"] == min(positions)
        start = max(r["pos"] - 4, 1)
        assert r["snippet"] == text[start - 1 : start - 1 + 20]


def test_suggest_terms_matches_oracle(corpus, spark):
    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    for prefix in ["ba", "c", "zz"]:
        got = [(r["term"], r["df"]) for r in s.suggest_terms(prefix, 8).collect()]
        expected = sorted(
            ((t, d) for t, d in oracle.df.items() if t.startswith(prefix)),
            key=lambda kv: (-kv[1], kv[0]),
        )[:8]
        assert got == expected


def test_prefix_search_matches_oracle(corpus, spark):
    """PrefixQuery = OR over the df-ranked expansion with unit weights."""
    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    prefix, cap = "ba", 5
    exp = sorted(
        ((t, d) for t, d in oracle.df.items() if t.startswith(prefix)),
        key=lambda kv: (-kv[1], kv[0]),
    )[:cap]
    qv = {t: 1.0 for t, _ in exp}
    scored = [(d, oracle.score(qv, d)) for d in oracle.tf]
    scored = sorted(
        ((d, sc) for d, sc in scored if sc > 0), key=lambda kv: (-kv[1], kv[0])
    )
    for method in ["sql", "wand"]:
        got = [
            (r["doc_id"], r["score"])
            for r in s.prefix_search(prefix, top_k=10, max_expansions=cap, method=method).collect()
        ]
        assert_topk_matches(got, scored[:30], 10, tol=1e-5)


def test_boolean_search_matches_bruteforce(corpus, spark):
    """BooleanQuery: must-conjunction, should-scoring, must_not exclusion,
    verified against a brute-force replay on the oracle weights."""
    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    must, should, must_not = ["baba0", "ceba1"], ["diba2"], ["foba3"]
    scored_terms = ["baba0", "ceba1", "diba2"]
    expected = []
    for d, tf in oracle.tf.items():
        if not all(t in tf for t in must):
            continue
        if any(t in tf for t in must_not):
            continue
        sc = sum(oracle.doc_weight(t, d) for t in scored_terms if t in tf)
        if sc > 0:
            expected.append((d, sc))
    expected.sort(key=lambda kv: (-kv[1], kv[0]))
    got = [
        (r["doc_id"], r["score"])
        for r in s.boolean_search(must=must, should=should, must_not=must_not, top_k=10).collect()
    ]
    assert_topk_matches(got, expected[:30], 10, tol=1e-6)
    assert got, "boolean query should match in this corpus"
    # must_not actually bites: without it at least as many hits
    loose = s.boolean_search(must=must, should=should, top_k=1000).count()
    strict = s.boolean_search(must=must, should=should, must_not=must_not, top_k=1000).count()
    assert strict < loose


def test_fuzzy_search_matches_bruteforce(corpus, spark):
    """FuzzyQuery: edit-distance expansion with closeness boost, verified
    against a brute-force replay on the oracle weights."""
    import difflib

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    q, d, cap = "baba", 1, 50
    exp = [
        (t, lev(t, q), df)
        for t, df in oracle.df.items()
        if abs(len(t) - len(q)) <= d and lev(t, q) <= d
    ]
    exp.sort(key=lambda x: (x[1], -x[2], x[0]))
    exp = exp[:cap]
    qv = {t: 1.0 - dist / max(len(t), len(q)) for t, dist, _ in exp}
    scored = [(doc, oracle.score(qv, doc)) for doc in oracle.tf]
    scored = sorted(
        ((doc, sc) for doc, sc in scored if sc > 0), key=lambda kv: (-kv[1], kv[0])
    )
    assert exp, "expansion must be non-empty (baba0 is in the vocab)"
    for method in ["sql", "wand"]:
        got = [
            (r["doc_id"], r["score"])
            for r in s.fuzzy_search(q, max_dist=d, top_k=10, method=method).collect()
        ]
        assert_topk_matches(got, scored[:30], 10, tol=1e-5)


def test_case_preserving_analyzer_fuzzy_and_snippets(spark, tmp_path):
    """lowercase=False index: fuzzy distances computed against the
    case-preserving dictionary (exact term = dist 0, boost 1.0) and
    snippet positions found in the RAW text — the sentinel never leaks."""
    cfg = IndexConfig(
        build_partitions=8, term_buckets=16, segment_docs=256, block_size=64,
        analyzer=AnalyzerConfig(token_pattern="[A-Za-z0-9]+", lowercase=False),
    )
    idx = str(tmp_path / "idx_case")
    tx = generate_transcripts(spark, num_convs=8, seed=5)
    build_index(spark, tx, idx, cfg)
    s = Searcher(spark, idx, cfg)
    up = [
        r["term"]
        for r in s.cat.read(spark, "term_stats")
        .where(F.col("term").rlike("^[A-Z]"))
        .limit(1)
        .collect()
    ]
    assert up, "mixed-case corpus must yield uppercase terms"
    term = up[0]
    hits = s.fuzzy_search(term, max_dist=0, top_k=5).collect()
    assert hits, "exact case-preserved term must match at distance 0"
    # snippets: pos is a real position in the raw text, never the sentinel
    rows = s.search_snippets(term, top_k=3).collect()
    assert rows
    for r in rows:
        assert r["pos"] is not None and 1 <= r["pos"] < (1 << 30)
        assert r["snippet"]


def test_near_search_matches_bruteforce(corpus, spark):
    """SpanNear: term pair within slop positions, unordered AND ordered,
    verified against a brute-force position scan of the raw texts."""
    from tests.oracle import tokenize as tok_py

    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    ta, tb, slop = "baba0", "ceba1", 4

    def brute(ordered):
        out = []
        for d, text in _FIXTURE_TEXTS.items():
            toks = tok_py(text)
            pa = [i for i, t in enumerate(toks) if t == ta]
            pb = [i for i, t in enumerate(toks) if t == tb]
            if ordered:
                ok = any(1 <= q - p <= slop for p in pa for q in pb)
            else:
                ok = any(1 <= abs(q - p) <= slop for p in pa for q in pb)
            if ok:
                sc = oracle.doc_weight(ta, d) + oracle.doc_weight(tb, d)
                if sc > 0:
                    out.append((d, sc))
        out.sort(key=lambda kv: (-kv[1], kv[0]))
        return out

    for ordered in (False, True):
        expected = brute(ordered)
        got = [
            (r["doc_id"], r["score"])
            for r in s.near_search(ta, tb, slop=slop, top_k=10, ordered=ordered).collect()
        ]
        assert_topk_matches(got, expected[:30], 10, tol=1e-6)
        assert got, f"near pair must match (ordered={ordered})"
    # ordered hits are a subset of unordered at the same slop
    uo = {r["doc_id"] for r in s.near_search(ta, tb, slop=slop, top_k=10**6).collect()}
    od = {r["doc_id"] for r in s.near_search(ta, tb, slop=slop, top_k=10**6, ordered=True).collect()}
    assert od <= uo


def test_regex_search_matches_bruteforce(corpus, spark):
    """RegexpQuery: anchored full-term expansion, OR-scored — vs replay."""
    import re as _re

    idx_dir, oracle, _ = corpus
    s = Searcher(spark, idx_dir, CFG)
    pattern = "ba.a0|ceba."
    rx = _re.compile(f"^(?:{pattern})$")
    exp = sorted(
        ((t, d) for t, d in oracle.df.items() if rx.match(t)),
        key=lambda kv: (-kv[1], kv[0]),
    )[:64]
    assert exp, "pattern must match dictionary terms"
    qv = {t: 1.0 for t, _ in exp}
    scored = sorted(
        ((d, sc) for d in oracle.tf if (sc := oracle.score(qv, d)) > 0),
        key=lambda kv: (-kv[1], kv[0]),
    )
    got = [
        (r["doc_id"], r["score"])
        for r in s.regex_search(pattern, top_k=10).collect()
    ]
    assert_topk_matches(got, scored[:30], 10, tol=1e-6)
    # no-match pattern returns empty, not an error
    assert s.regex_search("zz[0-9]{9}", top_k=5).count() == 0
