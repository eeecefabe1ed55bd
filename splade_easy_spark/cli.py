"""Command-line interface — the analog of the reference's three entry
points (``pyproject.toml:15-18``: ``ingest-dataset``, ``reshard``,
``search`` incl. the interactive console, ``src/splade_easy/console.py``).

    python -m splade_easy_spark.cli build   --input tx.parquet --index ./idx
    python -m splade_easy_spark.cli ingest  --config ingest.yaml [--resume]
    python -m splade_easy_spark.cli search  --index ./idx --query "..." [--top-k 10]
    python -m splade_easy_spark.cli console --index ./idx
    python -m splade_easy_spark.cli stats   --index ./idx
    python -m splade_easy_spark.cli delete  --index ./idx --doc-ids a#1,b#2
    python -m splade_easy_spark.cli compact --index ./idx
    python -m splade_easy_spark.cli reshard --index ./idx --segment-docs N --block-size N
    python -m splade_easy_spark.cli optimize --index ./idx        # merge appended runs/small files
    python -m splade_easy_spark.cli curate  --input docs.parquet --output kept.parquet
    python -m splade_easy_spark.cli decontaminate --input docs.parquet \
        --reference evalset.parquet --output clean.parquet
    python -m splade_easy_spark.cli migrate --index ./idx   # legacy layout → term ids
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark(args):
    from splade_easy_spark.session import get_spark

    return get_spark("splade-easy-spark-cli", cores=args.cores)


def cmd_build(args) -> int:
    from splade_easy_spark.index import build_index

    spark = _spark(args)
    tx = spark.read.parquet(args.input)
    res = build_index(spark, tx, args.index, resume=args.resume)
    print(json.dumps(res.__dict__))
    return 0


def cmd_decontaminate(args) -> int:
    """Test-set decontamination: drop input docs sharing word n-grams with
    the reference parquet table (ops.decontaminate.ngram_contamination);
    writes the surviving rows and prints a JSON summary."""
    from splade_easy_spark.ops.decontaminate import ngram_contamination

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    ref = spark.read.parquet(args.reference)
    t0 = time.time()
    report = ngram_contamination(
        docs,
        ref,
        id_col=args.id_col,
        text_col=args.text_col,
        ref_id_col=args.ref_id_col or args.id_col,
        ref_text_col=args.ref_text_col or args.text_col,
        shingle_k=args.shingle_k,
        min_hits=args.min_hits,
    )
    from pyspark.sql import functions as F

    flagged = report.where(F.col("contaminated")).select(F.col(args.id_col))
    clean = docs.join(flagged, args.id_col, "left_anti")
    clean.write.mode("overwrite").parquet(args.output)
    n_kept = spark.read.parquet(args.output).count()
    n_in = docs.count()
    print(
        json.dumps(
            {
                "input_docs": n_in,
                "kept_docs": n_kept,
                "contaminated": n_in - n_kept,
                "shingle_k": args.shingle_k,
                "min_hits": args.min_hits,
                "output": args.output,
                "elapsed_sec": round(time.time() - t0, 3),
            }
        )
    )
    return 0


def cmd_curate(args) -> int:
    """Training-data curation over any (id, text) parquet table: quality ∧
    length ∧ language gates + near-duplicate canonicalization
    (ops.curate.curate_corpus); writes the surviving (id, n_tokens,
    quality, pred_lang) rows and prints a JSON summary."""
    from splade_easy_spark.ops.curate import curate_corpus

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    t0 = time.time()
    kept = curate_corpus(
        docs,
        id_col=args.id_col,
        text_col=args.text_col,
        min_quality=args.min_quality,
        min_tokens=args.min_tokens,
        lang=args.lang or None,
    )
    kept.write.mode("overwrite").parquet(args.output)
    n_kept = spark.read.parquet(args.output).count()
    n_in = docs.count()
    print(
        json.dumps(
            {
                "input_docs": n_in,
                "kept_docs": n_kept,
                "dropped": n_in - n_kept,
                "output": args.output,
                "elapsed_sec": round(time.time() - t0, 3),
            }
        )
    )
    return 0


def cmd_dedup_spans(args) -> int:
    """Substring-grain dedup rewrite over any (id, text) parquet table
    (ops.dedup.remove_dup_spans): drops every token covered by a
    corpus-duplicated n-gram, writes (id, n_tokens, kept_tokens,
    clean_text) and prints a JSON summary."""
    from splade_easy_spark.ops.dedup import remove_dup_spans

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    t0 = time.time()
    out = remove_dup_spans(
        docs,
        n=args.ngram,
        min_count=args.min_count,
        id_col=args.id_col,
        text_col=args.text_col,
    )
    out.write.mode("overwrite").parquet(args.output)
    from pyspark.sql import functions as F

    agg = spark.read.parquet(args.output).agg(
        F.count("*").alias("docs"),
        F.sum("n_tokens").alias("tokens_in"),
        F.sum("kept_tokens").alias("tokens_kept"),
    ).collect()[0]
    print(
        json.dumps(
            {
                "docs": agg["docs"],
                "tokens_in": agg["tokens_in"],
                "tokens_kept": agg["tokens_kept"],
                "tokens_removed": agg["tokens_in"] - agg["tokens_kept"],
                "ngram": args.ngram,
                "min_count": args.min_count,
                "output": args.output,
                "elapsed_sec": round(time.time() - t0, 3),
            }
        )
    )
    return 0


def cmd_semdedup(args) -> int:
    """Semantic dedup over an (id, embedding) parquet table
    (ops.semdedup.semdedup): writes the (id, rep_id, keep) labeling and
    prints a JSON summary.  --clusters 1 is exact all-pairs."""
    from splade_easy_spark.ops.semdedup import semdedup

    spark = _spark(args)
    vecs = spark.read.parquet(args.input)
    t0 = time.time()
    out = semdedup(
        vecs,
        threshold=args.threshold,
        n_clusters=args.clusters,
        assign_col=args.assign_col or None,
        id_col=args.id_col,
        vec_col=args.vec_col,
        train_fraction=args.train_fraction,
    )
    out.write.mode("overwrite").parquet(args.output)
    from pyspark.sql import functions as F

    agg = spark.read.parquet(args.output).agg(
        F.count("*").alias("rows"),
        F.sum(F.col("keep").cast("long")).alias("kept"),
    ).collect()[0]
    print(
        json.dumps(
            {
                "rows": agg["rows"],
                "kept": agg["kept"],
                "dropped": agg["rows"] - agg["kept"],
                "threshold": args.threshold,
                "clusters": args.clusters,
                "output": args.output,
                "elapsed_sec": round(time.time() - t0, 3),
            }
        )
    )
    return 0


def cmd_ingest(args) -> int:
    from splade_easy_spark.ingest import IngestConfig, ingest

    spark = _spark(args)
    out = ingest(spark, IngestConfig.from_yaml(args.config), resume=args.resume)
    print(json.dumps(out))
    return 0


def cmd_search(args) -> int:
    from pyspark.sql import functions as F

    from splade_easy_spark.query import Searcher

    spark = _spark(args)
    s = Searcher(spark, args.index, mode=args.mode)
    t0 = time.time()
    # --filter is a SQL boolean expression over the stored doc columns
    # (role, tool, conv_id, turn_idx, ts, doc_len), e.g. "role = 'user'";
    # parsed by Catalyst via F.expr so the full SQL surface applies
    doc_filter = F.expr(args.filter) if getattr(args, "filter", None) else None
    if getattr(args, "snippet", False):
        rows = s.search_snippets(
            args.query, top_k=args.top_k, use_cosine=args.cosine,
            method=args.method, doc_filter=doc_filter,
        ).collect()
    else:
        rows = s.search(
            args.query, top_k=args.top_k, use_cosine=args.cosine,
            return_text=args.text, method=args.method, doc_filter=doc_filter,
        ).collect()
    elapsed = time.time() - t0
    for r in rows:
        d = r.asDict()
        line = f"{d['score']:.4f}  {d['doc_id']}  [{d['role']}]"
        if "snippet" in d:
            line += "  …" + (d.get("snippet") or "") + "…"
        elif args.text:
            line += "  " + (d.get("text") or "")[:120]
        print(line)
    print(f"-- {len(rows)} hits in {elapsed:.2f}s", file=sys.stderr)
    return 0


def cmd_console(args) -> int:
    """Minimal interactive loop (reference console.py is Rich-based; this
    stays dependency-free).  Commands: :topk N, :mode sql|wand, :cosine,
    :stats, :quit."""
    from splade_easy_spark.query import Searcher
    from splade_easy_spark.query.searcher import METHODS
    from splade_easy_spark.index.maintenance import stats

    spark = _spark(args)
    s = Searcher(spark, args.index)
    top_k, method, cosine = 5, "sql", False
    print("splade-easy-spark console — :topk N, :mode sql|wand, :cosine, :stats, :quit")
    while True:
        try:
            line = input("query> ").strip()
        except (EOFError, KeyboardInterrupt):
            break
        if not line:
            continue
        if line in (":quit", ":q"):
            break
        if line.startswith(":topk"):
            top_k = int(line.split()[1])
            continue
        if line.startswith(":mode"):
            mode = line.split()[1]
            if mode in METHODS:
                method = mode
            else:
                print(f"unknown mode {mode!r}: {' | '.join(METHODS)}")
            continue
        if line == ":cosine":
            cosine = not cosine
            print(f"cosine={cosine}")
            continue
        if line == ":stats":
            print(json.dumps(stats(spark, args.index), indent=1))
            continue
        t0 = time.time()
        rows = s.search(line, top_k=top_k, use_cosine=cosine, method=method, return_text=True).collect()
        for r in rows:
            print(f"{r['score']:.4f}  {r['doc_id']}  {(r['text'] or '')[:100]}")
        print(f"-- {len(rows)} hits in {time.time() - t0:.2f}s")
    return 0


def cmd_stats(args) -> int:
    from splade_easy_spark.index.maintenance import stats

    print(json.dumps(stats(_spark(args), args.index), indent=1))
    return 0


def cmd_batch_search(args) -> int:
    """Batch retrieval in ONE Spark job (search_many): queries from a file
    or stdin, one per line — plain text, or JSONL {"query_id","text"}.
    Output TSV: query_id, rank, score, doc_id."""
    import json as _json

    from pyspark.sql import functions as F

    from splade_easy_spark.query import Searcher

    s = Searcher(_spark(args), args.index)
    raw = sys.stdin.read() if args.queries == "-" else open(args.queries).read()
    queries = []
    for i, ln in enumerate(l.strip() for l in raw.splitlines() if l.strip()):
        # a brace-led line is TRIED as JSONL but a parse failure (or a
        # JSON object without "text") falls back to plain text — a
        # legitimate query that merely starts with '{' must not abort
        # the whole batch
        if ln.startswith("{"):
            try:
                d = _json.loads(ln)
                queries.append(
                    {"query_id": str(d.get("query_id", i)), "text": d["text"]}
                )
                continue
            except (ValueError, KeyError, TypeError):
                pass
        queries.append({"query_id": f"q{i}", "text": ln})
    if not queries:
        print("-- no queries", file=sys.stderr)
        return 0
    doc_filter = F.expr(args.filter) if args.filter else None
    t0 = time.time()
    rows = s.search_many(
        queries, top_k=args.top_k, use_cosine=args.cosine,
        method=args.method, doc_filter=doc_filter,
    ).collect()
    elapsed = time.time() - t0
    for r in rows:
        print(f"{r['query_id']}\t{r['rank']}\t{r['score']:.4f}\t{r['doc_id']}")
    print(
        f"-- {len(queries)} queries, {len(rows)} hits in {elapsed:.2f}s",
        file=sys.stderr,
    )
    return 0


def cmd_boolean(args) -> int:
    from splade_easy_spark.query import Searcher

    s = Searcher(_spark(args), args.index)
    rows = s.boolean_search(
        must=(args.must or "").split() or None,
        should=(args.should or "").split() or None,
        must_not=(args.must_not or "").split() or None,
        top_k=args.top_k,
    ).collect()
    for r in rows:
        print(f"{r['score']:.4f}  {r['doc_id']}  [{r['role']}]")
    print(f"-- {len(rows)} hits", file=sys.stderr)
    return 0


def cmd_query(args) -> int:
    """Lucene-style query string: quoted phrases, +must, -must_not,
    field:value filters, fuzzy~N, prefix*."""
    from splade_easy_spark.query import Searcher

    s = Searcher(_spark(args), args.index)
    rows = s.query(args.query, top_k=args.top_k).collect()
    for r in rows:
        print(f"{r['score']:.4f}  {r['doc_id']}  [{r['role']}]")
    print(f"-- {len(rows)} hits", file=sys.stderr)
    return 0


def cmd_regex(args) -> int:
    from splade_easy_spark.query import Searcher

    s = Searcher(_spark(args), args.index)
    rows = s.regex_search(args.pattern, top_k=args.top_k).collect()
    for r in rows:
        print(f"{r['score']:.4f}  {r['doc_id']}  [{r['role']}]")
    print(f"-- {len(rows)} hits", file=sys.stderr)
    return 0


def cmd_near(args) -> int:
    from splade_easy_spark.query import Searcher

    s = Searcher(_spark(args), args.index)
    rows = s.near_search(
        args.term_a, args.term_b, slop=args.slop, top_k=args.top_k,
        ordered=args.ordered,
    ).collect()
    for r in rows:
        print(f"{r['score']:.4f}  {r['doc_id']}  [{r['role']}]")
    print(f"-- {len(rows)} hits", file=sys.stderr)
    return 0


def cmd_fuzzy(args) -> int:
    from splade_easy_spark.query import Searcher

    s = Searcher(_spark(args), args.index)
    rows = s.fuzzy_search(
        args.term, max_dist=args.max_dist, top_k=args.top_k
    ).collect()
    for r in rows:
        print(f"{r['score']:.4f}  {r['doc_id']}  [{r['role']}]")
    print(f"-- {len(rows)} hits", file=sys.stderr)
    return 0


def cmd_suggest(args) -> int:
    from splade_easy_spark.query import Searcher

    s = Searcher(_spark(args), args.index)
    for r in s.suggest_terms(args.prefix, args.n).collect():
        print(f"{r['df']:>8}  {r['term']}")
    return 0


def cmd_facets(args) -> int:
    from splade_easy_spark.query import Searcher

    s = Searcher(_spark(args), args.index)
    for r in s.facet_counts(args.query, args.by).collect():
        print(f"{r['n_docs']:>8}  {r['facet']}")
    return 0


def cmd_mlt(args) -> int:
    from splade_easy_spark.query import Searcher

    s = Searcher(_spark(args), args.index)
    rows = s.more_like_this(
        args.doc_id, query_terms=args.query_terms, top_k=args.top_k
    ).collect()
    for r in rows:
        print(f"{r['score']:.4f}  {r['doc_id']}  [{r['role']}]")
    print(f"-- {len(rows)} hits", file=sys.stderr)
    return 0


def cmd_phrase(args) -> int:
    from splade_easy_spark.query import Searcher

    s = Searcher(_spark(args), args.index)
    rows = s.phrase_search(args.query, top_k=args.top_k).collect()
    for r in rows:
        print(f"{r['score']:.4f}  {r['doc_id']}  [{r['role']}]")
    print(f"-- {len(rows)} hits", file=sys.stderr)
    return 0


def cmd_delete(args) -> int:
    from splade_easy_spark.index.maintenance import delete

    n = delete(_spark(args), args.index, args.doc_ids.split(","))
    print(json.dumps({"deleted": n}))
    return 0


def cmd_compact(args) -> int:
    from splade_easy_spark.index.maintenance import compact

    print(json.dumps(compact(_spark(args), args.index)))
    return 0


def cmd_reshard(args) -> int:
    from splade_easy_spark.index.maintenance import reshard

    out = reshard(
        _spark(args),
        args.index,
        target_partitions=args.partitions,
        segment_docs=args.segment_docs,
        block_size=args.block_size,
        keep_originals=args.keep_originals,
    )
    print(json.dumps(out))
    return 0


def cmd_optimize(args) -> int:
    from splade_easy_spark.index.maintenance import optimize_postings

    out = optimize_postings(
        _spark(args), args.index, min_files=args.min_files,
        doc_terms_min_files=args.doc_terms_min_files,
    )
    print(json.dumps(out))
    return 0


def cmd_migrate(args) -> int:
    from splade_easy_spark.index.maintenance import migrate_postings

    print(json.dumps(migrate_postings(_spark(args), args.index)))
    return 0


def cmd_rollback_reshard(args) -> int:
    from splade_easy_spark.index.maintenance import rollback_reshard

    print(json.dumps(rollback_reshard(args.index)))
    return 0


def cmd_append(args) -> int:
    """Incremental append of a transcript parquet table — the reference's
    ``add_batch`` as a CLI verb (``src/splade_easy/index.py:168-205``)."""
    from splade_easy_spark.index.append import append_documents, refresh_stats

    spark = _spark(args)
    out = append_documents(
        spark, args.index, spark.read.parquet(args.input), dedupe=not args.no_dedupe
    )
    if args.refresh_stats:
        out["refresh"] = refresh_stats(spark, args.index)
    print(json.dumps(out))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="splade_easy_spark")
    p.add_argument("--cores", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--input", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--resume", action="store_true")
    b.set_defaults(fn=cmd_build)

    i = sub.add_parser("ingest")
    i.add_argument("--config", required=True)
    i.add_argument("--resume", action="store_true")
    i.set_defaults(fn=cmd_ingest)

    s = sub.add_parser("search")
    s.add_argument("--index", required=True)
    s.add_argument("--query", required=True)
    s.add_argument("--top-k", type=int, default=10)
    s.add_argument("--cosine", action="store_true")
    s.add_argument("--text", action="store_true")
    s.add_argument("--mode", default="disk", choices=["disk", "memory"])
    s.add_argument("--method", default="sql", choices=["sql", "wand"])
    s.add_argument(
        "--filter",
        help="SQL predicate over stored doc columns restricting candidates "
        "(full-corpus idf), e.g. \"role = 'user' AND turn_idx < 10\"",
    )
    s.add_argument(
        "--snippet", action="store_true",
        help="show a KWIC window around the earliest query-term hit",
    )
    s.set_defaults(fn=cmd_search)

    bs = sub.add_parser("batch-search")
    bs.add_argument("--index", required=True)
    bs.add_argument(
        "--queries", required=True,
        help="file of queries (one per line, or JSONL with query_id/text); '-' = stdin",
    )
    bs.add_argument("--top-k", type=int, default=10)
    bs.add_argument("--cosine", action="store_true")
    bs.add_argument("--method", default="wand", choices=["sql", "wand"])
    bs.add_argument(
        "--filter",
        help="SQL predicate over stored doc columns (candidate restriction, "
        "full-corpus idf) — batches ride the in-kernel mask (BENCH.md)",
    )
    bs.set_defaults(fn=cmd_batch_search)

    c = sub.add_parser("console")
    c.add_argument("--index", required=True)
    c.set_defaults(fn=cmd_console)

    bl = sub.add_parser("boolean")
    bl.add_argument("--index", required=True)
    bl.add_argument("--must", help="terms a hit MUST all contain (space-separated)")
    bl.add_argument("--should", help="terms that add score if present")
    bl.add_argument("--must-not", dest="must_not", help="terms that exclude a hit")
    bl.add_argument("--top-k", type=int, default=10)
    bl.set_defaults(fn=cmd_boolean)

    qy = sub.add_parser("query")
    qy.add_argument("--index", required=True)
    qy.add_argument(
        "--query", required=True,
        help='Lucene-style string, e.g. \'+spark "hash join" -scan role:user fast~1 pre*\'',
    )
    qy.add_argument("--top-k", type=int, default=10)
    qy.set_defaults(fn=cmd_query)

    rx = sub.add_parser("regex")
    rx.add_argument("--index", required=True)
    rx.add_argument("--pattern", required=True, help="anchored full-term regex")
    rx.add_argument("--top-k", type=int, default=10)
    rx.set_defaults(fn=cmd_regex)

    nr = sub.add_parser("near")
    nr.add_argument("--index", required=True)
    nr.add_argument("--term-a", dest="term_a", required=True)
    nr.add_argument("--term-b", dest="term_b", required=True)
    nr.add_argument("--slop", type=int, default=5)
    nr.add_argument("--ordered", action="store_true")
    nr.add_argument("--top-k", type=int, default=10)
    nr.set_defaults(fn=cmd_near)

    fz = sub.add_parser("fuzzy")
    fz.add_argument("--index", required=True)
    fz.add_argument("--term", required=True)
    fz.add_argument("--max-dist", type=int, default=2)
    fz.add_argument("--top-k", type=int, default=10)
    fz.set_defaults(fn=cmd_fuzzy)

    sg = sub.add_parser("suggest")
    sg.add_argument("--index", required=True)
    sg.add_argument("--prefix", required=True)
    sg.add_argument("-n", type=int, default=10)
    sg.set_defaults(fn=cmd_suggest)

    fa = sub.add_parser("facets")
    fa.add_argument("--index", required=True)
    fa.add_argument("--query", required=True)
    fa.add_argument("--by", required=True, help="stored doc column to facet on (e.g. role)")
    fa.set_defaults(fn=cmd_facets)

    ml = sub.add_parser("mlt")
    ml.add_argument("--index", required=True)
    ml.add_argument("--doc-id", required=True)
    ml.add_argument("--top-k", type=int, default=10)
    ml.add_argument("--query-terms", type=int, default=10)
    ml.set_defaults(fn=cmd_mlt)

    ph = sub.add_parser("phrase")
    ph.add_argument("--index", required=True)
    ph.add_argument("--query", required=True, help="exact token sequence to match")
    ph.add_argument("--top-k", type=int, default=10)
    ph.set_defaults(fn=cmd_phrase)

    st = sub.add_parser("stats")
    st.add_argument("--index", required=True)
    st.set_defaults(fn=cmd_stats)

    d = sub.add_parser("delete")
    d.add_argument("--index", required=True)
    d.add_argument("--doc-ids", required=True)
    d.set_defaults(fn=cmd_delete)

    co = sub.add_parser("compact")
    co.add_argument("--index", required=True)
    co.set_defaults(fn=cmd_compact)

    r = sub.add_parser("reshard")
    r.add_argument("--index", required=True)
    r.add_argument("--partitions", type=int, default=None)
    r.add_argument("--segment-docs", type=int, default=None)
    r.add_argument("--block-size", type=int, default=None)
    r.add_argument("--keep-originals", action="store_true")
    r.set_defaults(fn=cmd_reshard)

    op = sub.add_parser("optimize")
    op.add_argument("--index", required=True)
    op.add_argument("--min-files", type=int, default=2)
    op.add_argument("--doc-terms-min-files", type=int, default=8)
    op.set_defaults(fn=cmd_optimize)

    mg = sub.add_parser("migrate")
    mg.add_argument("--index", required=True)
    mg.set_defaults(fn=cmd_migrate)

    rb = sub.add_parser("rollback-reshard")
    rb.add_argument("--index", required=True)
    rb.set_defaults(fn=cmd_rollback_reshard)

    cu = sub.add_parser("curate")
    cu.add_argument("--input", required=True)
    cu.add_argument("--output", required=True)
    cu.add_argument("--id-col", default="doc_id")
    cu.add_argument("--text-col", default="text")
    cu.add_argument("--min-quality", type=float, default=0.9)
    cu.add_argument("--min-tokens", type=int, default=20)
    cu.add_argument("--lang", default="en", help="empty string disables the language gate")
    cu.set_defaults(fn=cmd_curate)

    dc = sub.add_parser("decontaminate")
    dc.add_argument("--input", required=True)
    dc.add_argument("--reference", required=True, help="held-out eval/benchmark parquet")
    dc.add_argument("--output", required=True)
    dc.add_argument("--id-col", default="doc_id")
    dc.add_argument("--text-col", default="text")
    dc.add_argument("--ref-id-col", default="", help="defaults to --id-col")
    dc.add_argument("--ref-text-col", default="", help="defaults to --text-col")
    dc.add_argument("--shingle-k", type=int, default=8)
    dc.add_argument("--min-hits", type=int, default=1)
    dc.set_defaults(fn=cmd_decontaminate)

    ds = sub.add_parser("dedup-spans")
    ds.add_argument("--input", required=True)
    ds.add_argument("--output", required=True)
    ds.add_argument("--id-col", default="doc_id")
    ds.add_argument("--text-col", default="text")
    ds.add_argument("--ngram", type=int, default=5)
    ds.add_argument("--min-count", type=int, default=2)
    ds.set_defaults(fn=cmd_dedup_spans)

    sd = sub.add_parser("semdedup")
    sd.add_argument("--input", required=True)
    sd.add_argument("--output", required=True)
    sd.add_argument("--id-col", default="vec_id")
    sd.add_argument("--vec-col", default="embedding")
    sd.add_argument("--threshold", type=float, default=0.95)
    sd.add_argument("--clusters", type=int, default=64)
    sd.add_argument("--assign-col", default="", help="precomputed cell column (skips the KMeans fit)")
    sd.add_argument("--train-fraction", type=float, default=None)
    sd.set_defaults(fn=cmd_semdedup)

    a = sub.add_parser("append")
    a.add_argument("--input", required=True)
    a.add_argument("--index", required=True)
    a.add_argument("--no-dedupe", action="store_true")
    a.add_argument("--refresh-stats", action="store_true")
    a.set_defaults(fn=cmd_append)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
