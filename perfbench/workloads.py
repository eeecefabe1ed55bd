"""The workloads.  Each sets up from the seed (untimed inputs,
timed ``setup_s``), measures for ``--seconds``, then checks every output
it collected and fills ``Bench.metrics`` (end-to-end, untraced) or
``Bench.layer`` (per-layer, traced).

In a traced run every other request (or search) runs untraced, so the
tracing overhead is the traced share's numbers minus the untraced share's,
measured side by side under the same load.
"""

from __future__ import annotations

import shutil
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np

import inputs
from checks import Expected, check_absent, check_ranked
from tracing import Tracer, peak_rss_mb

TOP_K = 10


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, int]:
    """The highest 5%-step percentile with at least ten samples above it,
    with its percentile (0 when fewer than 20 samples)."""
    xs = sorted(xs)
    n = len(xs)
    for p in range(95, 45, -5):
        if n - int(np.ceil(p / 100 * n)) >= 10:
            return float(np.percentile(xs, p)), p
    return (xs[-1] if xs else 0.0), 0


def tree_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


class Bench:
    """State shared by a workload run: the session, tracer, seeded inputs,
    operation/failure counts and the metrics being reported."""

    def __init__(self, spark, cfg, tracer: Tracer, work: Path, seed: int, seconds: float,
                 traced: bool, oracle_cls, nproc: int, session_s: float):
        self.spark, self.cfg, self.tr, self.work = spark, cfg, tracer, work
        self.seed, self.seconds, self.traced = seed, seconds, traced
        self.oracle_cls, self.nproc = oracle_cls, nproc
        self.session_s = session_s
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.report: dict = {}

    # -- bookkeeping ---------------------------------------------------
    def op(self, error: str | None, what: str) -> None:
        self.attempted += 1
        if error is not None:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(f"{what}: {error}")

    # -- engine calls shared by the workloads -------------------------
    def stage(self, pdf, name: str):
        """Write generated turns as the engine's parquet input table, one
        file per core, without a Spark job."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = self.work / f"input_{name}"
        path.mkdir(exist_ok=True)
        table = pa.Table.from_pandas(pdf, schema=inputs.ARROW_SCHEMA, preserve_index=False)
        step = -(-len(pdf) // self.nproc)
        for i in range(self.nproc):
            pq.write_table(table.slice(i * step, step), path / f"part-{i:05d}.parquet")
        return self.spark.read.parquet(str(path))

    def build(self, tx, name: str):
        from splade_easy_spark.index import build_index

        idx = str(self.work / f"index_{name}")
        with self.tr.span("builder.build_index", "index.builder", jobs=True) as sp:
            t0 = time.perf_counter()
            res = build_index(self.spark, tx, idx, self.cfg)
            build_s = time.perf_counter() - t0
        return idx, res, build_s, sp

    def open_searcher(self, idx: str):
        from splade_easy_spark.query import Searcher

        with self.tr.span("searcher.open", "query.searcher", jobs=True):
            t0 = time.perf_counter()
            s = Searcher(self.spark, idx, self.cfg)
            return s, time.perf_counter() - t0

    def catalog_sizes(self, idx: str) -> dict:
        from splade_easy_spark.index import IndexCatalog

        with self.tr.span("catalog.sizes", "index.catalog"):
            cat = IndexCatalog(idx, self.cfg)
            out = {t: tree_bytes(Path(cat.table_dir(t))) for t in ["docs", "doc_terms", "postings"]}
            out["postings_files"] = len(list(Path(cat.table_dir("postings")).rglob("*.parquet")))
            out["doc_terms_rows"] = cat.table_rows("doc_terms")
            out["postings_rows"] = cat.table_rows("postings")
        return out

    def wand_profile(self, s, texts: list[str]) -> tuple[int, int]:
        """Blocks in the queries' posting lists vs blocks the WAND kernel
        decoded (an instrumented re-run: extra Spark jobs, traced runs only)."""
        from splade_easy_spark.query import analyze_query
        from splade_easy_spark.query.wand import wand_profile

        seg = int(s.cat.manifest.data.get("layout", {}).get("segment_docs", self.cfg.segment_docs))
        total = decoded = 0
        for text in texts:
            terms = analyze_query(text, self.cfg)
            if not terms:
                continue
            with self.tr.span("wand.profile", "query.wand", jobs=True):
                rows = wand_profile(self.spark, s.cat.read(self.spark, "postings"), terms, seg,
                                    top_k=TOP_K, deleted=s.cat.read_deleted(self.spark),
                                    term_id_seed=s.term_id_seed).collect()
            total += sum(r["blocks_total"] for r in rows)
            decoded += sum(r["blocks_decoded"] for r in rows)
        return total, decoded

    def expected(self, pdf) -> Expected:
        return Expected(self.oracle_cls, inputs.doc_ids(pdf), pdf["text"].tolist(), pdf["role"].tolist())

    # -- reporting -----------------------------------------------------
    def common_metrics(self, setup_s, build_turns, build_s, index_bytes, text_bytes, throughput, read_p50_ms):
        self.metrics.update({
            "setup_s": (setup_s, "s"),
            "build_turns_per_s": (build_turns / build_s, "1/s"),
            "index_bytes_per_text_byte": (index_bytes / text_bytes, "ratio"),
            "throughput_per_s": (throughput, "1/s"),
            "read_p50_ms": (read_p50_ms, "ms"),
        })

    def layer_metrics(self, build_span, sizes, idx, op_ms, overhead_p50_pct, overhead_rate_pct):
        """Per-layer numbers every workload reports; a layer the workload
        does not call reads 0."""
        tr = self.tr
        L = self.layer
        L["session.get_spark_s"] = (self.session_s, "s")
        from splade_easy_spark.index import Manifest

        stages = Manifest(idx).data.get("stages", {})
        L["builder.build_index_s"] = (build_span["end"] - build_span["start"], "s")
        for st in ["docs", "stats", "postings"]:
            L[f"builder.{st}_stage_s"] = (float(stages.get(st, {}).get("metrics", {}).get("elapsed_sec", 0.0)), "s")
        L["builder.postings"] = (sizes["doc_terms_rows"], "count")
        L["builder.blocks"] = (sizes["postings_rows"], "count")
        for k in ["spark_jobs", "spark_tasks", "failed_tasks"]:
            L[f"builder.{k}"] = (build_span.get(k, 0), "count")
        L["catalog.docs_bytes"] = (sizes["docs"], "bytes")
        L["catalog.doc_terms_bytes"] = (sizes["doc_terms"], "bytes")
        L["catalog.postings_bytes"] = (sizes["postings"], "bytes")
        L.setdefault("catalog.postings_files_after_appends", (0, "count"))
        L.setdefault("catalog.postings_files_after_compact", (0, "count"))

        def ms(name):
            return median([(s["end"] - s["start"]) * 1e3 for s in tr.find(name)])

        app = tr.find("append.append_documents")
        L["append.call_s"] = (median([s["end"] - s["start"] for s in app]), "s")
        L["append.spark_jobs"] = (sum(s.get("spark_jobs", 0) for s in app), "count")
        L.setdefault("append.rows", (0, "count"))
        for name in ["delete", "compact"]:
            L[f"maintenance.{name}_s"] = (sum(s["end"] - s["start"] for s in tr.find(f"maintenance.{name}")), "s")
        L["maintenance.spark_jobs"] = (sum(s.get("spark_jobs", 0) for s in tr.spans if s["layer"] == "index.maintenance"), "count")

        L["searcher.open_s"] = (median([s["end"] - s["start"] for s in tr.find("searcher.open")]), "s")
        for verb, _ in inputs.MIX:
            roots = [s for s in tr.find(verb) if s["layer"] == "bench"]
            L[f"searcher.{verb}_ms"] = (median([(s["end"] - s["start"]) * 1e3 for s in roots]), "ms")
        plans = [s for s in tr.spans if s["name"].endswith(".plan") and s["layer"] == "query.searcher"]
        execs = [s for s in tr.spans if s["name"].endswith(".execute") and s["layer"] == "query.searcher"]
        L["searcher.plan_ms"] = (median([(s["end"] - s["start"]) * 1e3 for s in plans]), "ms")
        L["searcher.execute_ms"] = (median([(s["end"] - s["start"]) * 1e3 for s in execs]), "ms")
        per_req: dict[str, list[int]] = {}
        for s in tr.spans:
            if s["layer"] == "query.searcher" and s["request"] is not None:
                acc = per_req.setdefault(s["request"], [0, 0])
                acc[0] += s.get("spark_jobs", 0)
                acc[1] += s.get("spark_tasks", 0)
        L["searcher.spark_jobs_per_request"] = (float(np.mean([v[0] for v in per_req.values()])) if per_req else 0.0, "count")
        L["searcher.spark_tasks_per_request"] = (float(np.mean([v[1] for v in per_req.values()])) if per_req else 0.0, "count")
        L["parser.parse_query_us"] = (ms("parser.parse_query") * 1e3, "us")
        bt, bd = L["wand.blocks_total"][0], L["wand.blocks_decoded"][0]
        L["wand.block_skip_ratio"] = (1 - bd / bt if bt else 0.0, "ratio")

        for layer, sec in tr.self_times().items():
            L[f"self.{layer}_s"] = (sec, "s")
        tail_ms, _ = tail(op_ms)
        L["bench.op_samples"] = (len(op_ms), "count")
        L["bench.op_tail_ms"] = (tail_ms, "ms")
        L["trace.overhead_read_p50_pct"] = (overhead_p50_pct, "%")
        L["trace.overhead_throughput_pct"] = (overhead_rate_pct, "%")
        L["trace.cost_ms"] = (tr.cost_s * 1e3, "ms")
        L["trace.spans"] = (len(tr.spans), "count")
        tr.dump(self.work.parent / f"spans-{self.work.name}.jsonl")

    def finish(self, op_ms: list[float]) -> None:
        rss = peak_rss_mb()
        self.metrics["peak_rss_mb"] = (sum(rss.values()), "MB")
        self.report["peak_rss_mb_by_pid"] = {pid: round(mb, 1) for pid, mb in rss.items()}
        tail_ms, pct = tail(op_ms)
        self.report["op_latency"] = {"samples": len(op_ms), "p50_ms": median(op_ms),
                                     f"p{pct}_ms": tail_ms}


def _pct(new: float, base: float) -> float:
    return (new - base) / base * 100.0 if base else 0.0


# ======================================================================
# interactive: closed loop of nproc/2 clients sharing one Searcher
# ======================================================================
INTERACTIVE_TURNS = 5000
INTERACTIVE_VOCAB = 5000


def _request(b: Bench, s, req: dict):
    """Run one interactive request; returns its normalized output."""
    from pyspark.sql import functions as F

    from splade_easy_spark.query.parser import parse_query

    tr, verb = b.tr, req["verb"]
    with tr.muted(not req["traced"]), tr.span(verb, "bench", request=req["id"]):
        if verb == "get":
            with tr.span("searcher.get", "query.searcher", jobs=True):
                return s.get(req["doc_id"])
        if verb == "query_dsl":
            with tr.span("parser.parse_query", "query.parser"):
                parse_query(req["text"])
        with tr.span(f"searcher.{verb}.plan", "query.searcher", jobs=True):
            if verb == "search_wand":
                df = s.search(req["text"], top_k=TOP_K, method="wand")
            elif verb == "search_sql":
                df = s.search(req["text"], top_k=TOP_K, method="sql")
            elif verb == "search_filtered":
                df = s.search(req["text"], top_k=TOP_K, method="wand", doc_filter=F.col("role") == "user")
            elif verb == "query_dsl":
                df = s.query(req["text"], top_k=TOP_K)
            elif verb == "facet_counts":
                df = s.facet_counts(req["text"], "role")
            else:
                df = s.more_like_this(req["doc_id"], top_k=TOP_K, method="wand")
        with tr.span(f"searcher.{verb}.execute", "query.searcher", jobs=True):
            rows = df.collect()
    if verb == "facet_counts":
        return {r["facet"]: int(r["n_docs"]) for r in rows}
    return [(r["doc_id"], float(r["score"])) for r in rows]


def _closed_loop(n_clients: int, reqs: list[dict], seconds: float, fn):
    """``n_clients`` threads, each sending its next request only after the
    previous reply; returns (request, start, end, output, error) records."""
    lock = threading.Lock()
    it = iter(reqs)
    records = []
    deadline = time.perf_counter() + seconds

    def client():
        while True:
            with lock:
                if time.perf_counter() >= deadline:
                    return
                req = next(it)
            t0 = time.perf_counter()
            try:
                out, err = fn(req), None
            except Exception as e:  # a failed request is counted, not fatal
                out, err = None, f"{type(e).__name__}: {str(e)[:200]}"
            t1 = time.perf_counter()
            with lock:
                records.append((req, t0, t1, out, err))

    threads = [threading.Thread(target=client) for _ in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records


def interactive(b: Bench) -> None:
    t_setup = time.perf_counter()
    pdf, _ = inputs.transcripts(b.seed, 0, INTERACTIVE_TURNS, INTERACTIVE_VOCAB)
    pool = inputs.query_pool(b.seed, 400, INTERACTIVE_VOCAB)
    reqs = inputs.requests(b.seed, 5000, pool, pdf)
    t_gen = time.perf_counter()
    tx = b.stage(pdf, "base")
    t_stage = time.perf_counter()
    idx, res, build_s, build_span = b.build(tx, "base")
    opens = []
    for _ in range(3):
        s, open_s = b.open_searcher(idx)
        opens.append(open_s)
    t_warm = time.perf_counter()
    warm = [dict(next(r for r in reqs[-200:] if r["verb"] == verb), traced=False) for verb, _ in inputs.MIX]
    with ThreadPoolExecutor(b.nproc) as pool_:  # one untraced, untimed call of every verb
        list(pool_.map(lambda r: _request(b, s, r), warm))
    t_end = time.perf_counter()
    setup_s = b.session_s + (t_end - t_setup) - sum(opens) + median(opens)
    b.report["setup_parts_s"] = {"session": b.session_s, "inputs": t_gen - t_setup, "stage": t_stage - t_gen,
                                 "build": build_s, "open": median(opens), "warm": t_end - t_warm}

    seen: dict[str, int] = {}
    for r in reqs:  # alternate per verb, so both shares hold the same mix
        seen[r["verb"]] = seen.get(r["verb"], 0) + 1
        r["traced"] = b.traced and seen[r["verb"]] % 2 == 1
    # nproc/2 clients keep the box below saturation: with one client per
    # core, a few percent less CPU from neighbours queues every request and
    # the median swings by a third between identical runs
    clients = max(1, b.nproc // 2)
    all_recs = _closed_loop(clients, reqs, b.seconds, lambda r: _request(b, s, r))
    records = [r for r in all_recs if r[0]["traced"] or not b.traced]
    op_ms = [(r[2] - r[1]) * 1e3 for r in records]
    # closed loop without think time: throughput = clients / mean latency
    # (Little's law), free of the partial requests cut at the deadline
    throughput = clients * 1e3 / float(np.mean(op_ms))

    # ---- checks (after the timed loop) ----
    exp = b.expected(pdf)
    user = np.array([r == "user" for r in pdf["role"]])
    rows_by_id = dict(zip(inputs.doc_ids(pdf), pdf.itertuples(index=False)))
    for req, _, _, out, err in all_recs:
        verb = req["verb"]
        if err is None:
            if verb in ("search_wand", "search_sql"):
                err = check_ranked(out, exp, exp.query_scores(req["text"]), TOP_K)
            elif verb == "search_filtered":
                err = check_ranked(out, exp, exp.query_scores(req["text"], user), TOP_K)
            elif verb == "query_dsl":
                err = check_ranked(out, exp, exp.dsl_scores(req["dsl"]), TOP_K)
            elif verb == "facet_counts":
                want = exp.facets(req["text"])
                err = None if out == want else f"{out} != {want}"
            elif verb == "more_like_this":
                err = check_ranked(out, exp, exp.mlt_scores(req["doc_id"]), TOP_K)
            else:
                row = rows_by_id[req["doc_id"]]
                got = None if out is None else (out["conv_id"], out["turn_idx"], out["role"], out["text"])
                err = None if got == (row.conv_id, row.turn_idx, row.role, row.text) else f"get returned {got}"
        b.op(err, f"{verb} {req['id']}")

    sizes = b.catalog_sizes(idx)
    b.op(None if res.n_docs == len(pdf) else f"n_docs {res.n_docs} != {len(pdf)}", "build")
    text_bytes = sum(len(t.encode()) for t in pdf["text"])
    b.report["inputs"] = inputs.properties(pdf, [r["text"] for r in reqs[: len(all_recs)] if "text" in r],
                                           INTERACTIVE_VOCAB, exp.n_hit)
    b.report["verbs"] = {v: sum(1 for r in all_recs if r[0]["verb"] == v) for v, _ in inputs.MIX}
    b.report["clients"] = clients
    b.common_metrics(setup_s, len(pdf), build_s, tree_bytes(Path(idx)), text_bytes, throughput, median(op_ms))
    if b.traced:
        texts = sorted({r[0]["text"] for r in records if r[0]["verb"] == "search_wand"})[:4]
        bt, bd = b.wand_profile(s, texts)
        b.layer["wand.blocks_total"] = (bt, "count")
        b.layer["wand.blocks_decoded"] = (bd, "count")
        base_ms = [(r[2] - r[1]) * 1e3 for r in all_recs if not r[0]["traced"]]
        b.layer_metrics(build_span, sizes, idx, op_ms, _pct(median(op_ms), median(base_ms)),
                        _pct(float(np.mean(base_ms)), float(np.mean(op_ms))))
    b.finish(op_ms)


# ======================================================================
# ingest: build, then append -> fresh search -> delete, then compact and
# search again
# ======================================================================
INGEST_BASE_TURNS = 5000
INGEST_APPEND_TURNS = 700
INGEST_ROUNDS = 1
INGEST_DELETES = 3
#: each fresh Searcher runs the same seeded 3-term queries, so the two
#: phases (after the append, after compact) read comparable work
INGEST_QUERIES = 8
#: set-up builds a throwaway index this small first, so the timed calls
#: measure a warm JVM and not its JIT compilation (a cold 500-turn build
#: takes longer than a warm 5000-turn one)
INGEST_WARM_TURNS = 400


def ingest(b: Bench) -> None:
    """Appended turns are weighted with the statistics frozen at build time,
    so the oracle for every fresh search is the base corpus's BM25 applied
    to the docs visible then, minus the docs deleted by then."""
    from splade_easy_spark.index import build_index
    from splade_easy_spark.index.append import append_documents
    from splade_easy_spark.index.maintenance import compact, delete, stats

    t_setup = time.perf_counter()
    base, conv = inputs.transcripts(b.seed, 0, INGEST_BASE_TURNS, INTERACTIVE_VOCAB)
    appends = []
    for _ in range(INGEST_ROUNDS):
        batch_pdf, conv = inputs.transcripts(b.seed, conv, INGEST_APPEND_TURNS, INTERACTIVE_VOCAB)
        appends.append(batch_pdf)
    warm, conv = inputs.transcripts(b.seed, conv, INGEST_WARM_TURNS, INTERACTIVE_VOCAB)
    queries = inputs.zipf_queries(b.seed, INGEST_QUERIES, 3, INTERACTIVE_VOCAB)
    stagings = []
    for _ in range(3):  # staging is the repeatable part of this set-up
        t0 = time.perf_counter()
        tx = b.stage(base, "base")
        app_tx = [b.stage(a, f"append{r}") for r, a in enumerate(appends)]
        stagings.append(time.perf_counter() - t0)
    t_warm = time.perf_counter()
    widx = str(b.work / "index_warm")
    with b.tr.muted():
        build_index(b.spark, b.stage(warm, "warm"), widx, b.cfg)
    shutil.rmtree(widx)
    t_end = time.perf_counter()
    setup_s = b.session_s + (t_end - t_setup) - sum(stagings) + median(stagings)
    b.report["setup_parts_s"] = {"session": b.session_s, "stage": median(stagings), "warm": t_end - t_warm}

    # ---- timed: every write-path call adds to write_s ----
    idx, res, build_s, build_span = b.build(tx, "base")
    write_s = build_s
    index_bytes = tree_bytes(Path(idx))
    sizes = b.catalog_sizes(idx)
    b.op(None if res.n_docs == len(base) else f"n_docs {res.n_docs} != {len(base)}", "build")

    visible = len(base)
    deleted: set[str] = set()
    appended_ids: list[str] = []
    # (counted, ms, text, results, error, docs visible, deleted then);
    # a traced run counts its traced searches and compares the untraced ones
    searches = []

    def fresh_searches(s):
        for text in queries:
            n = len(searches)
            counted = not b.traced or n % 2 == 0
            t0 = time.perf_counter()
            try:
                with b.tr.muted(not counted), b.tr.span("search_wand", "bench", request=f"f{n}"):
                    with b.tr.span("searcher.search_wand.plan", "query.searcher", jobs=True):
                        df = s.search(text, top_k=TOP_K, method="wand")
                    with b.tr.span("searcher.search_wand.execute", "query.searcher", jobs=True):
                        got, err = [(r["doc_id"], float(r["score"])) for r in df.collect()], None
            except Exception as e:  # a failed search is counted, not fatal
                got, err = None, f"{type(e).__name__}: {str(e)[:200]}"
            ms = (time.perf_counter() - t0) * 1e3
            searches.append((counted, ms, text, got, err, visible, frozenset(deleted)))

    def timed(name, layer, fn):
        nonlocal write_s
        with b.tr.span(name, layer, jobs=True):
            t0 = time.perf_counter()
            try:
                out = fn()
            finally:
                write_s += time.perf_counter() - t0
        return out

    for r, batch_pdf in enumerate(appends):
        out = timed("append.append_documents", "index.append", lambda: append_documents(b.spark, idx, app_tx[r], b.cfg))
        b.op(None if out["appended_docs"] == len(batch_pdf) else
             f"appended {out['appended_docs']} of {len(batch_pdf)}", f"append round {r}")
        ids = inputs.doc_ids(batch_pdf)
        appended_ids += ids
        visible += len(ids)
        s, _ = b.open_searcher(idx)
        fresh_searches(s)
        # delete top hits, so a resurrected doc would surface in later searches
        top_hits = [x[3][0][0] for x in searches if x[3] and x[5] == visible]
        victims = sorted((set(top_hits[: INGEST_DELETES - 1]) | {ids[0]}) - deleted)
        n_del = timed("maintenance.delete", "index.maintenance", lambda: delete(b.spark, idx, victims))
        b.op(None if n_del == len(victims) else f"deleted {n_del} of {len(victims)}", f"delete round {r}")
        deleted |= set(victims)
    b.layer["catalog.postings_files_after_appends"] = (b.catalog_sizes(idx)["postings_files"], "count")
    out = timed("maintenance.compact", "index.maintenance", lambda: compact(b.spark, idx, b.cfg))
    b.op(None if out["removed"] == len(deleted) else f"compact removed {out['removed']} of {len(deleted)}", "compact")
    b.layer["catalog.postings_files_after_compact"] = (b.catalog_sizes(idx)["postings_files"], "count")
    s, _ = b.open_searcher(idx)
    fresh_searches(s)
    op_ms = [x[1] for x in searches if x[0]]

    # ---- checks ----
    exp = b.expected(base)
    for a in appends:
        exp.add_frozen(inputs.doc_ids(a), a["text"].tolist(), a["role"].tolist())
    alive = {}
    for i, (_, _, text, got, err, vis, dead) in enumerate(searches):
        if err is None:
            key = (vis, dead)
            if key not in alive:
                alive[key] = np.array([j < vis and d not in dead for j, d in enumerate(exp.ids)])
            err = check_absent([d for d, _ in got], dead) or check_ranked(got, exp, exp.query_scores(text, alive[key]), TOP_K)
        b.op(err, f"fresh search {i}")
    found = {r["doc_id"] for r in s.get_batch(appended_ids + sorted(deleted), load_text=False).collect()}
    want_found = set(appended_ids) - deleted
    b.op(None if found == want_found else f"lookup returned {sorted(found ^ want_found)[:4]} wrongly",
         "point lookups after compact")
    n_live = stats(b.spark, idx)["num_docs"]
    want = len(base) + len(appended_ids) - len(deleted)
    b.op(None if n_live == want else f"live docs {n_live} != {want}", "live count")

    text_bytes = sum(len(t.encode()) for t in base["text"])
    b.report["inputs"] = inputs.properties(base, queries, INTERACTIVE_VOCAB, exp.n_hit)
    b.report["inputs"]["append_turns"] = [len(a) for a in appends]
    b.common_metrics(setup_s, len(base), build_s, index_bytes, text_bytes, visible / write_s, median(op_ms))
    if b.traced:
        b.layer["append.rows"] = (visible - len(base), "count")
        bt, bd = b.wand_profile(s, queries[:4])
        b.layer["wand.blocks_total"] = (bt, "count")
        b.layer["wand.blocks_decoded"] = (bd, "count")
        base_ms = [x[1] for x in searches if not x[0]]
        b.layer_metrics(build_span, sizes, idx, op_ms, _pct(median(op_ms), median(base_ms)),
                        _pct(1e3 / np.mean(op_ms), 1e3 / np.mean(base_ms)))
    b.finish(op_ms)


WORKLOADS = {"interactive": interactive, "ingest": ingest}
