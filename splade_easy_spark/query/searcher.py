"""Read path: BM25 top-k search over the inverted index.

Restates the reference's query lifecycle (SURVEY.md §3.1) Spark-first:

  reference                                  this engine
  ---------                                  -----------
  encode + sparsify query                    analyze_query: tokenize + qweights
  normalize (dedup max, sort)                dedup keeping max qweight
  shard list as physical plan                term-bucket partition pruning
  per-shard scan-score-heap (ALL docs)       postings ⨝ broadcast(query terms)
                                             → groupBy(doc).sum  (only docs
                                             sharing ≥1 term are ever touched)
  heapq.nlargest merge                       orderBy(desc score).limit(k)
                                             = TakeOrderedAndProject (partial
                                             per-partition top-k + driver merge
                                             — the same topology, built in)

Scale notes: the query side is always broadcast (a query has dozens of
terms); tombstones are a broadcast anti-join *before* the limit; the docs
table join for metadata/text happens *after* the limit, on k rows only.
Tie-break is pinned to (score DESC, doc_id ASC) — the reference leaves tie
order arbitrary (``src/splade_easy/retriever.py:122,202``), so the parity
harness compares tie groups as sets (SURVEY.md §7).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from splade_easy_spark.config import IndexConfig
from splade_easy_spark.index.catalog import IndexCatalog, term_bucket_expr


def analyze_query(
    text: str, config: IndexConfig | None = None, weights: dict[str, float] | None = None
) -> list[tuple[str, float]]:
    """Driver-side query analysis with the *same* analyzer rules as the
    build (the model-identity seam; mismatch is what the reference warns
    about at ``src/splade_easy/retriever.py:137-145``).

    Duplicate terms keep the **max** weight, mirroring the reference's
    vector normalization (``src/splade_easy/scoring.py:102-114``).
    """
    cfg = config or IndexConfig()
    a = cfg.analyzer
    s = text.lower() if a.lowercase else text
    toks = [
        t
        for t in re.findall(a.token_pattern, s)
        if a.min_token_len <= len(t) <= a.max_token_len
    ]
    out: dict[str, float] = {}
    for t in toks:
        w = (weights or {}).get(t, 1.0)
        out[t] = max(out.get(t, w), w)
    return sorted(out.items())


#: the query engines every ``method=`` argument selects between
METHODS = ("sql", "wand")

#: column contract of ``search_many`` results
_MANY_SCHEMA = (
    "query_id STRING, rank INT, doc_id STRING, score DOUBLE, conv_id STRING, turn_idx INT"
)


def _check_method(method: str) -> None:
    """Reject an unknown ``method`` before any work: only ``METHODS``
    name an engine, and a typo must not silently run a different one."""
    if method not in METHODS:
        raise ValueError(f"unknown method {method!r}: expected one of {METHODS}")


@dataclass
class SearchResultSchema:
    """Column contract of search results — the reference's SearchResult
    (``src/splade_easy/retriever.py:20-25``) plus transcript metadata."""

    columns = ["doc_id", "score", "conv_id", "turn_idx", "role", "tool", "ts"]


class Searcher:
    """Read-only view over an index directory.

    ``mode='disk'`` streams parquet per query; ``mode='memory'`` persists
    the postings + docs tables (the reference's two retriever modes,
    ``src/splade_easy/retriever.py:31-67``).
    """

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        config: IndexConfig | None = None,
        mode: str = "disk",
    ):
        self.spark = spark
        self.cat = IndexCatalog(index_dir, config)
        self.config = self.cat.config
        # a crash inside optimize_postings' per-partition swap leaves a
        # `seg=N__old` dir that breaks Hive partition inference for every
        # query on the table — heal (rename-only, one listdir per table,
        # no-op in the common case) before opening any table
        from splade_easy_spark.index.maintenance import heal_interrupted_swaps

        heal_interrupted_swaps(index_dir)
        # SNAPSHOT BOUND: this searcher serves the index as of open.
        # doc_ints are assigned densely from the manifest's next_doc_int
        # watermark, so every doc_int ≥ the watermark at open belongs to a
        # batch that was not yet acknowledged then: a crashed append's
        # orphans (pending_append journal present — next_doc_int still
        # points at the journaled lo), an append in flight RIGHT NOW, or
        # one that starts after open (whose files a same-session reader
        # could otherwise pick up mid-write via refreshByPath relisting).
        # A pushed `doc_int < watermark` predicate on every read path
        # excludes all three uniformly — no writes, no repair race with a
        # healthy writer, works on read-only replicas.  The writer's own
        # _repair_pending remains the sole healer.  Pre-watermark indexes
        # (none built since round 2) read unbounded, as before.
        snap = self.cat.manifest.data.get("next_doc_int")
        self._snapshot_max: int | None = int(snap) if snap is not None else None
        man_identity = self.cat.manifest.data.get("identity", {})
        ours = self.cat.config.identity()
        if man_identity and man_identity.get("analyzer_hash") != ours["analyzer_hash"]:
            raise ValueError(
                f"analyzer mismatch: index built with {man_identity.get('analyzer_hash')}, "
                f"query configured {ours['analyzer_hash']}"
            )
        self.stats = self.cat.corpus_stats(spark)
        self.doc_terms = self.cat.read(spark, "doc_terms")
        self.docs = self.cat.read(spark, "docs")
        if self._snapshot_max is not None:
            # one consistent as-of-open view for ALL read paths (search,
            # point get, doc_vector): un-acknowledged rows never score,
            # never occupy a top-k slot, never surface in lookups
            self.doc_terms = self.doc_terms.where(
                F.col("doc_int") < self._snapshot_max
            )
            self.docs = self.docs.where(F.col("doc_int") < self._snapshot_max)
        layout = self.cat.manifest.data.get("layout", {})
        # seed of the postings term_id hash (catalog.term_id_py) — recorded
        # at build; legacy pre-term_id indexes never recorded one, and the
        # WAND path detects their layout from the postings columns
        self.term_id_seed = int(layout.get("term_id_seed", self.config.term_id_seed))
        #: docs per WAND segment as recorded at build (or last reshard)
        self.segment_docs = int(layout.get("segment_docs", self.config.segment_docs))
        self._pack_cosine = bool(layout.get("pack_cosine", True))
        self.mode = mode
        #: driver-side {term: global doc-weight upper bound}; "unset" until
        #: the first batch search materializes it (see ``_term_bounds``)
        self._tb_cache: dict[str, float] | str | None = "unset"
        if mode == "memory":
            self.doc_terms = self.doc_terms.persist()
            self.docs = self.docs.persist()
            self.doc_terms.count()
            self.docs.count()

    # ------------------------------------------------------------------
    def _query_df(self, terms: list[tuple[str, float]]) -> DataFrame:
        return self.spark.createDataFrame(terms, "term STRING, qweight DOUBLE")

    def _deleted(self) -> DataFrame | None:
        return self.cat.read_deleted(self.spark)

    def _wand_postings(self, use_cosine: bool) -> DataFrame | None:
        """The postings scan a WAND call reads, or ``None`` when the call
        must answer on the SQL path instead: cosine needs the normalized
        weight stream, which indexes built before it existed (no ``nwts``
        column) or with ``pack_cosine=False`` do not carry."""
        postings = self._postings()
        if use_cosine and ("nwts" not in postings.columns or not self._pack_cosine):
            return None
        return postings

    def _postings(self) -> DataFrame:
        post = self.cat.read(self.spark, "postings")
        if self._snapshot_max is not None:
            # the snapshot bound at block grain, ROW-EXACT overall: drop
            # blocks whose every doc is post-watermark (`doc_min >= W` —
            # fresh append runs always open past the previous max, so an
            # in-flight/crashed batch's runs are excluded here, pushed to
            # parquet row-group stats), keep every block containing ANY
            # pre-watermark doc, and let the kernel mask `doc_int >= W`
            # after decode for blocks that SPAN the watermark.  Spanning
            # blocks are legal: a concurrent optimize_postings merges the
            # tail segment's runs — including runs appended after this
            # reader opened — into blocks with doc_min < W <= doc_max, and
            # `_postings()` relists files per search, so a long-lived
            # reader does see them (round-4 used `doc_max < W` here and
            # silently dropped those blocks' committed pre-snapshot
            # postings; round-5 ADVICE high).
            post = post.where(F.col("doc_min") < self._snapshot_max)
        return post

    #: skip the driver-side vocabulary map past this many distinct terms —
    #: at web scale term_stats can hold 10^8+ rows and a driver collect of
    #: it would be the exact anti-pattern this repo bans; below it the map
    #: is a one-time vocab-sized collect amortized over the searcher's life
    TERM_BOUNDS_MAX_VOCAB = 5_000_000

    def _term_bounds(self) -> dict[str, float] | None:
        """Driver-side ``{term: global BM25 doc-weight upper bound}`` from
        ``term_stats`` (round-4 VERDICT #5).

        The bound is exact from recorded stats: the BM25 tf component
        ``tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))`` increases in ``tf`` and
        decreases in ``dl``, so ``idf · max_tf·(k1+1)/(max_tf + k1·(1−b))``
        (dl→0) dominates every packed weight of the term.  Used for (a) the
        EXACT out-of-vocabulary drop — a query term with no ``term_stats``
        row has no postings anywhere (append registers new vocabulary,
        ``append.py:348``), so removing it from the pushed IN-list changes
        no result — and (b) the opt-in approximate tail cut in
        ``search_many``.  Orphan registrations from a crashed append and
        terms whose postings are all post-snapshot stay in the map: keeping
        a term is always exact, pruning is what needs proof.

        Returns ``None`` (pruning disabled, behavior unchanged) when the
        vocabulary exceeds ``TERM_BOUNDS_MAX_VOCAB`` — the footer-based row
        count costs no Spark job.
        """
        if self._tb_cache != "unset":
            return self._tb_cache  # type: ignore[return-value]
        if self._snapshot_max is None:
            # legacy snapshot-less index: reads are unbounded, so a term
            # appended AFTER this cache is built would serve postings while
            # the cache calls it OOV — the exactness proof above needs the
            # as-of-open bound.  No bounds, no pruning, no OOV drop.
            self._tb_cache = None
            return None
        if self.cat.table_rows("term_stats") > self.TERM_BOUNDS_MAX_VOCAB:
            self._tb_cache = None
            return None
        ts = self.cat.read(self.spark, "term_stats")
        p = self.config.bm25
        loose = F.lit(p.k1 + 1.0)  # tf→∞ limit: always an upper bound
        if "max_tf" in ts.columns:
            # append registers batch-new terms with max_tf=NULL
            # (append.py:338) — fall back to the loose bound per row
            mtf = F.col("max_tf").cast("double")
            comp = F.coalesce(
                mtf * (p.k1 + 1.0) / (mtf + p.k1 * (1.0 - p.b)), loose
            )
        else:  # pre-max_tf stats layout
            comp = loose
        rows = ts.select("term", (F.col("idf") * comp).alias("ub")).collect()
        # a null bound must KEEP the term (keeping is always exact)
        self._tb_cache = {
            r["term"]: (float("inf") if r["ub"] is None else float(r["ub"]))
            for r in rows
        }
        return self._tb_cache

    def _pruned_doc_terms(self, terms: list[str]) -> DataFrame:
        """Bucket- and term-pruned doc_terms scan — THE pruning prologue
        every term-driven verb shares (search, search_many, phrase,
        boolean): driver-side crc32 bucket computation (same hash as
        term_bucket_expr, no Spark job) prunes partitions on ``tb``, and
        the term IN-filter reaches row groups (files are term-sorted
        within buckets)."""
        import zlib

        buckets = sorted(
            {zlib.crc32(t.encode()) % self.config.term_buckets for t in terms}
        )
        return self.doc_terms.where(
            F.col("tb").isin(buckets) & F.col("term").isin(terms)
        )

    def _scores(self, terms: list[tuple[str, float]], use_cosine: bool) -> DataFrame:
        """(doc_int, score) for all docs sharing ≥1 query term."""
        qdf = self._query_df(terms)
        dt = self._pruned_doc_terms([t for t, _ in terms])
        joined = dt.join(F.broadcast(qdf), "term")
        if use_cosine:
            qnorm_row = qdf.agg(F.sqrt(F.sum(F.col("qweight") ** 2)).alias("n")).collect()[0]
            qnorm = float(qnorm_row["n"] or 0.0)
            scores = joined.groupBy("doc_int").agg(
                (F.sum(F.col("weight") * F.col("qweight"))).alias("dot"),
                F.first("norm").alias("norm"),
            )
            if qnorm == 0.0:
                return scores.select("doc_int", F.lit(0.0).alias("score")).where(F.lit(False))
            scores = scores.select(
                "doc_int",
                F.when(F.col("norm") == 0.0, F.lit(0.0))
                .otherwise(F.col("dot") / (F.col("norm") * F.lit(qnorm)))
                .alias("score"),
            )
        else:
            scores = joined.groupBy("doc_int").agg(
                F.sum(F.col("weight") * F.col("qweight")).alias("score")
            )
        return scores.where(F.col("score") > 0)  # cf. retriever.py:186

    def _attach_docs(self, topk: DataFrame, return_text: bool) -> DataFrame:
        # transcript-mode docs carry (conv_id..ts); vector-mode docs carry
        # (metadata) — project whatever exists (reference SearchResult shape:
        # doc_id, score, metadata, text?, retriever.py:20-25)
        available = set(self.docs.columns)
        cols = ["doc_id", "score"] + [
            c for c in ["conv_id", "turn_idx", "role", "tool", "ts", "metadata"] if c in available
        ]
        if return_text and "text" in available:
            cols.append("text")
        return (
            topk.join(self.docs, "doc_int")
            .select(*cols)
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    def _no_hits(self, return_text: bool = False) -> DataFrame:
        """An empty result with the search columns."""
        return self._attach_docs(
            self.spark.createDataFrame([], "doc_int LONG, score DOUBLE"), return_text
        )

    # ------------------------------------------------------------------
    def search(
        self,
        query: str | list[tuple[str, float]],
        top_k: int = 10,
        use_cosine: bool = False,
        return_text: bool = False,
        method: str = "sql",
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """Top-k search.  ``use_cosine=False`` is BM25 (dot) — the parity
        mode vs the reference's ``compute_splade_score(use_cosine=False)``.

        ``method='sql'``: postings join + hash agg (Catalyst end to end).
        ``method='wand'``: packed-postings block-max kernel — identical
        results, pruned physical work (see query/wand.py).  Cosine mode
        runs the same kernel over the normalized weight stream packed at
        build time (indexes built before that stream existed silently fall
        back to the SQL path).

        ``doc_filter``: filtered retrieval — a predicate over the stored
        doc columns (conv_id, turn_idx, role, tool, ts, doc_len) that
        restricts the CANDIDATE set while idf stays full-corpus (Lucene
        filter semantics: the filter narrows what may be returned, never
        what the corpus is).  On the SQL path it is a doc-grain semi-join
        between the scored candidates and the pushed-down filtered docs
        scan — right-sized for BROAD filters.  On the WAND path the
        allowed doc_ints are packed and shipped to the kernels like
        tombstones and masked BEFORE the pruning threshold (block-max
        bounds stay conservative over the allowed subset, so exactness is
        unchanged; see wand._alive_mask) — pack cost ∝ |allowed|, so this
        is the path for SELECTIVE filters, where the mask is tiny and the
        kernel's pruning does proportionally less work.
        """
        _check_method(method)
        terms = analyze_query(query, self.config) if isinstance(query, str) else query
        if not terms:
            return self._no_hits(return_text)
        deleted = self._deleted()
        postings = self._wand_postings(use_cosine) if method == "wand" else None
        if postings is not None:
            from splade_easy_spark.query.wand import wand_search_scores

            scan_terms = terms
            if isinstance(self._tb_cache, dict):
                # vocabulary map already paid for by a batch call: the
                # exact OOV drop is free here — a term absent from
                # term_stats has no postings, so removing it from the
                # pushed IN-list changes no result.  Only the SCAN list
                # shrinks; the cosine query norm below keeps every term,
                # matching the SQL path.  Never loaded eagerly for single
                # queries: one short IN-list isn't worth a vocab collect.
                scan_terms = [(t, w) for t, w in terms if t in self._tb_cache]
            if not scan_terms:
                return self._no_hits(return_text)
            # tombstones stay distributed: packed rows ride the postings'
            # seg exchange into the kernel (never a driver collect), which
            # masks them BEFORE the pruning threshold is computed
            allowed = (
                None
                if doc_filter is None
                else self.docs.where(doc_filter).select("doc_int")
            )
            scores = wand_search_scores(
                self.spark, postings, scan_terms, self.segment_docs, top_k, deleted, use_cosine,
                term_id_seed=self.term_id_seed, snapshot_max=self._snapshot_max,
                allowed=allowed,
            )
            if use_cosine:
                # kernel scores are Σ qw·(w/‖d‖); divide the monotone
                # query-norm factor out so values equal the SQL path's
                qnorm = sum(qw * qw for _, qw in terms) ** 0.5
                if qnorm == 0.0:
                    scores = scores.where(F.lit(False))
                else:
                    scores = scores.select(
                        "doc_int", (F.col("score") / F.lit(qnorm)).alias("score")
                    )
        else:
            scores = self._scores(terms, use_cosine)
            if deleted is not None:
                scores = scores.join(
                    F.broadcast(deleted.select("doc_int")), "doc_int", "left_anti"
                )
            if doc_filter is not None:
                # inclusion mask at doc_int grain; selectivity is unknown so
                # the join strategy is left to AQE (broadcast when small)
                scores = scores.join(
                    self.docs.where(doc_filter).select("doc_int"), "doc_int", "left_semi"
                )
        topk = scores.orderBy(F.desc("score"), F.asc("doc_int")).limit(top_k)
        return self._attach_docs(topk, return_text)

    def search_many(
        self,
        queries: list[dict],
        top_k: int = 10,
        use_cosine: bool = False,
        method: str = "sql",
        prune_below: float = 0.0,
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """Batch evaluation of many queries in ONE Spark job (the bulk
        path the reference lacks entirely), then a top-k window per
        query_id.  ``method='sql'`` explodes all query terms and joins
        postings once; ``method='wand'`` runs the decode-once batch kernel
        over the seg-colocated packed postings
        (``wand.wand_search_many_scores``) — exact, rank-identical to the
        SQL path.  Any other ``method`` raises ``ValueError``.

        ``queries``: [{"query_id": ..., "text": ...}, ...]
        Returns (query_id, rank, doc_id, score, conv_id, turn_idx).

        Term pruning (round-4 VERDICT #5): batch calls load a driver-side
        per-term global weight bound once (``_term_bounds``) and always
        apply the EXACT out-of-vocabulary drop — query terms with no
        ``term_stats`` row have no postings, so the pushed IN-list and the
        shipped postings shrink with zero result change and zero extra jobs
        per batch.  ``prune_below > 0`` additionally drops, per query, the
        terms whose bound falls under ``prune_below × (that query's best
        term bound)`` — **APPROXIMATE**: a dropped in-vocabulary term's
        contribution to matching docs is simply lost (scores shrink by at
        most the dropped bounds' sum; ranks near ties can flip), the
        standard quality/cost knob for SPLADE-style expansion queries whose
        tail terms carry weights orders of magnitude below the head.  A
        driver-side drop can never be exact for in-vocab terms — any doc
        in the true top-k may contain one, and with its postings never
        shipped the kernel's repair pass has nothing to repair with — so
        exactness-preserving cuts live in the kernel (MaxScore + repair)
        and this knob defaults off.  Pruning applies to ``method='wand'``
        only; ``method='sql'`` stays the untouched oracle path.

        ``doc_filter`` as in :func:`search` — candidate restriction with
        full-corpus statistics.  SQL path: one semi-join for the whole
        batch.  WAND path: ONE packed inclusion mask shipped to the batch
        kernel and applied before every query's pruning threshold.
        """
        _check_method(method)
        analyzed = [(q["query_id"], analyze_query(q["text"], self.config)) for q in queries]
        rows = [(qid, term, qw) for qid, ts in analyzed for term, qw in ts]
        if not rows:
            return self.spark.createDataFrame([], _MANY_SCHEMA)
        deleted = self._deleted()
        postings = self._wand_postings(use_cosine) if method == "wand" else None
        if postings is None:
            scores = self._sql_many_scores(rows, top_k, use_cosine, deleted, doc_filter)
        else:
            from splade_easy_spark.query.wand import wand_search_many_scores

            qt = {qid: ts for qid, ts in dict(analyzed).items() if ts}
            # cosine query norms are over the FULL analyzed term list —
            # the SQL path's norm includes OOV terms (they contribute to
            # ‖q‖ though never to the dot), so pruning must not touch it
            qt_full = qt
            bounds = self._term_bounds()
            if bounds is not None:
                pruned_qt: dict[str, list[tuple[str, float]]] = {}
                for qid, ts in qt.items():
                    kept = [(t, w) for t, w in ts if t in bounds]
                    if kept and prune_below > 0.0:
                        # per-query relative cut on qweight·global-bound —
                        # approximate by design (see docstring); in cosine
                        # mode the BM25 bounds order terms heuristically.
                        # Terms with an unknown (inf) bound never set the
                        # threshold and are never cut: one NULL-stat term
                        # must not make thr=inf and evict every other term.
                        finite = [
                            w * bounds[t]
                            for t, w in kept
                            if math.isfinite(bounds[t])
                        ]
                        if finite:
                            thr = prune_below * max(finite)
                            kept = [
                                (t, w)
                                for t, w in kept
                                if not math.isfinite(bounds[t])
                                or w * bounds[t] >= thr
                            ]
                    if kept:
                        pruned_qt[qid] = kept
                qt = pruned_qt
            if not qt:
                return self.spark.createDataFrame([], _MANY_SCHEMA)
            allowed = (
                None
                if doc_filter is None
                else self.docs.where(doc_filter).select("doc_int")
            )
            scores = wand_search_many_scores(
                self.spark, postings, qt, self.segment_docs, top_k, deleted, use_cosine,
                term_id_seed=self.term_id_seed, snapshot_max=self._snapshot_max,
                allowed=allowed,
            )
            if use_cosine:
                qnorms = [
                    (qid, sum(qw * qw for _, qw in ts) ** 0.5)
                    for qid, ts in qt_full.items()
                ]
                qn = self.spark.createDataFrame(qnorms, "query_id STRING, _qn DOUBLE")
                scores = (
                    scores.join(F.broadcast(qn), "query_id")
                    .where(F.col("_qn") > 0)
                    .select(
                        "query_id", "doc_int", (F.col("score") / F.col("_qn")).alias("score")
                    )
                )
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_int"))
        topk = scores.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= top_k)
        return (
            topk.join(self.docs.select("doc_int", "doc_id", "conv_id", "turn_idx"), "doc_int")
            .select("query_id", "rank", "doc_id", "score", "conv_id", "turn_idx")
            .orderBy("query_id", "rank")
        )

    def _sql_many_scores(
        self,
        rows: list[tuple[str, str, float]],
        top_k: int,
        use_cosine: bool,
        deleted: DataFrame | None,
        doc_filter: Column | None,
    ) -> DataFrame:
        """(query_id, doc_int, score) of the SQL batch path: the
        exploded (query_id, term, qweight) rows joined to doc_terms once,
        masked, and cut to a partial per-partition top-k."""
        qdf = self.spark.createDataFrame(rows, "query_id STRING, term STRING, qweight DOUBLE")
        dt = self._pruned_doc_terms(sorted({r[1] for r in rows}))
        joined = dt.join(F.broadcast(qdf), "term")
        if use_cosine:
            qnorms = qdf.groupBy("query_id").agg(
                F.sqrt(F.sum(F.col("qweight") ** 2)).alias("qnorm")
            )
            scores = (
                joined.groupBy("query_id", "doc_int")
                .agg(
                    F.sum(F.col("weight") * F.col("qweight")).alias("dot"),
                    F.first("norm").alias("norm"),
                )
                .join(F.broadcast(qnorms), "query_id")
                .select(
                    "query_id",
                    "doc_int",
                    F.when((F.col("norm") == 0.0) | (F.col("qnorm") == 0.0), F.lit(0.0))
                    .otherwise(F.col("dot") / (F.col("norm") * F.col("qnorm")))
                    .alias("score"),
                )
            )
        else:
            scores = joined.groupBy("query_id", "doc_int").agg(
                F.sum(F.col("weight") * F.col("qweight")).alias("score")
            )
        scores = scores.where(F.col("score") > 0)
        if deleted is not None:
            scores = scores.join(
                F.broadcast(deleted.select("doc_int")), "doc_int", "left_anti"
            )
        if doc_filter is not None:
            # BEFORE the partial top-k: heads taken over ineligible docs
            # would evict eligible ones (the mask must precede any cut)
            scores = scores.join(
                self.docs.where(doc_filter).select("doc_int"), "doc_int", "left_semi"
            )

        # Partial per-partition top-k before the global window — the batch
        # analog of TakeOrderedAndProject: the final sort then sees at most
        # (partitions × k) rows per query instead of every scored doc (a hot
        # query term scores a large fraction of the corpus).
        import pandas as pd

        def partial_topk(batches):
            parts = [pdf for pdf in batches if len(pdf)]
            if not parts:
                return
            allp = pd.concat(parts, ignore_index=True)
            allp = allp.sort_values(
                ["query_id", "score", "doc_int"], ascending=[True, False, True]
            )
            yield allp.groupby("query_id", sort=False).head(top_k)

        return scores.mapInPandas(
            partial_topk, schema="query_id STRING, doc_int LONG, score DOUBLE"
        )

    # ------------------------------------------------------------------
    def phrase_search(
        self,
        phrase: str,
        top_k: int = 10,
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """Exact phrase search over the index, no positional postings:
        conjunctive CANDIDATE GENERATION off the term-bucketed weights
        (docs containing ALL distinct phrase terms — bucket-pruned scan,
        one hash agg), then token-sequence VERIFICATION re-tokenizing only
        the candidate docs' text (|candidates| ≪ |corpus| for selective
        phrases; the docs join is doc_int-grain).  Ranked by BM25 over the
        phrase's distinct terms, desc score / asc doc_id — same semantics
        as ``adhoc.phrase_search``."""
        from splade_easy_spark.adhoc import _phrase_tokens
        from splade_easy_spark.functions.text import tokenize

        if "text" not in self.docs.columns:
            raise ValueError(
                "phrase_search needs stored text; this index has none "
                "(vector-mode build)"
            )
        ordered = _phrase_tokens(phrase, self.config)
        if not ordered:
            return self._no_hits()
        distinct = sorted(set(ordered))
        dt = self._pruned_doc_terms(distinct)
        cand = (
            dt.groupBy("doc_int")
            .agg(
                F.sum("weight").alias("score"),
                F.count_distinct("term").alias("_nt"),
            )
            .where(F.col("_nt") == len(distinct))
            .select("doc_int", "score")
        )
        deleted = self._deleted()
        if deleted is not None:
            cand = cand.join(
                F.broadcast(deleted.select("doc_int")), "doc_int", "left_anti"
            )
        if doc_filter is not None:
            cand = cand.join(
                self.docs.where(doc_filter).select("doc_int"), "doc_int", "left_semi"
            )
        needle = " " + " ".join(ordered) + " "
        hay = F.concat(
            F.lit(" "),
            F.array_join(tokenize(F.col("text"), self.config.analyzer), " "),
            F.lit(" "),
        )
        verified = (
            cand.join(self.docs.select("doc_int", "text"), "doc_int")
            .where(F.instr(hay, needle) > 0)
            .select("doc_int", "score")
        )
        topk = verified.orderBy(F.desc("score"), F.asc("doc_int")).limit(top_k)
        return self._attach_docs(topk, False)

    def boolean_search(
        self,
        must: list[str] | None = None,
        should: list[str] | None = None,
        must_not: list[str] | None = None,
        top_k: int = 10,
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """Lucene BooleanQuery over the index: a hit contains EVERY
        ``must`` term, gains score from ``should`` terms, and is excluded
        by ANY ``must_not`` term.  Score = Σ weight over the doc's
        (must ∪ should) terms.  One bucket-pruned doc_terms scan serves
        all three clauses (the conjunction rides the scoring agg as a
        count-distinct; the exclusion is an anti-join on the must_not
        postings) — same semantics as ``adhoc.boolean_search``."""
        cfg = self.config
        m = sorted({t for t, _ in analyze_query(" ".join(must or []), cfg)})
        s_extra = sorted(
            {t for t, _ in analyze_query(" ".join(should or []), cfg)} - set(m)
        )
        n = sorted({t for t, _ in analyze_query(" ".join(must_not or []), cfg)})
        scored_terms = m + s_extra
        if not scored_terms:
            return self._no_hits()
        all_terms = sorted(set(scored_terms) | set(n))
        dt = self._pruned_doc_terms(all_terms)
        scored = (
            dt.where(F.col("term").isin(scored_terms))
            .groupBy("doc_int")
            .agg(
                F.sum("weight").alias("score"),
                F.count_distinct(
                    F.when(F.col("term").isin(m), F.col("term"))
                ).alias("_nm"),
            )
            .where((F.col("_nm") == len(m)) & (F.col("score") > 0))
            .select("doc_int", "score")
        )
        if n:
            scored = scored.join(
                dt.where(F.col("term").isin(n)).select("doc_int").distinct(),
                "doc_int",
                "left_anti",
            )
        deleted = self._deleted()
        if deleted is not None:
            scored = scored.join(
                F.broadcast(deleted.select("doc_int")), "doc_int", "left_anti"
            )
        if doc_filter is not None:
            scored = scored.join(
                self.docs.where(doc_filter).select("doc_int"), "doc_int", "left_semi"
            )
        topk = scored.orderBy(F.desc("score"), F.asc("doc_int")).limit(top_k)
        return self._attach_docs(topk, False)

    def fuzzy_search(
        self,
        query_term: str,
        max_dist: int = 2,
        top_k: int = 10,
        max_expansions: int = 50,
        use_cosine: bool = False,
        method: str = "sql",
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """Lucene FuzzyQuery over the index: expand to dictionary terms
        within ``max_dist`` edits (closest first, then df desc / term asc,
        capped), then a regular OR search with the closeness boost
        ``1 − dist/max(|q|,|term|)`` as the query weight — composing with
        both query paths and ``doc_filter``.  The levenshtein test runs
        only inside the LENGTH BAND ``|q| ± max_dist`` of the term_stats
        scan (the banded scan is the distributed analog of Lucene's FST
        automaton walk; postings are untouched until the expansion is
        fixed)."""
        _check_method(method)
        # same casing as the index dictionary — unconditional lower()
        # against a case-preserving analyzer would inflate every distance
        terms = self._fuzzy_expansions(query_term, max_dist, max_expansions)
        if not terms:
            return self._no_hits()
        return self.search(
            terms, top_k=top_k, use_cosine=use_cosine, method=method,
            doc_filter=doc_filter,
        )

    def _fuzzy_expansions(
        self, query_term: str, max_dist: int, max_expansions: int
    ) -> list[tuple[str, float]]:
        """[(term, closeness boost)] — the FuzzyQuery expansion: dictionary
        terms within ``max_dist`` edits, levenshtein evaluated only inside
        the |q|±d length band, closest-first / df desc / term asc capped
        cut, boost = 1 − dist/max(|q|,|term|).  Query casing follows the
        analyzer (unconditional lower() against a case-preserving
        dictionary would inflate every distance)."""
        q = query_term.lower() if self.config.analyzer.lowercase else query_term
        lq = len(q)
        exp = (
            self.cat.read(self.spark, "term_stats")
            .where(F.length("term").between(lq - max_dist, lq + max_dist))
            .withColumn("dist", F.levenshtein(F.col("term"), F.lit(q)))
            .where(F.col("dist") <= max_dist)
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .select("term", "dist")
            .collect()
        )
        return [(r["term"], 1.0 - r["dist"] / max(len(r["term"]), lq)) for r in exp]

    def query(
        self,
        qs: str,
        top_k: int = 10,
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """Execute a Lucene-style query string (see ``query.parser`` for
        the grammar: quoted phrases, +must, -must_not, field:value
        filters, fuzzy~N, prefix*).  Composition of the engine's
        primitives in ONE plan: one bucket-pruned doc_terms scan scores
        every clause's terms (must-conjunction as a count-distinct inside
        the scoring agg, exclusions as an anti-join), field filters land
        on the pushed docs scan with full-corpus idf, and phrase
        constraints verify token sequences on candidate rows only."""
        from splade_easy_spark.adhoc import _phrase_tokens
        from splade_easy_spark.functions.text import tokenize
        from splade_easy_spark.query.parser import parse_query

        p = parse_query(qs)
        cfg = self.config

        def analyzed(words: list[str]) -> list[str]:
            return [t for w in words for t, _ in analyze_query(w, cfg)]

        phrases = [ph for ph in (_phrase_tokens(x, cfg) for x in p.phrases) if ph]
        if phrases and "text" not in self.docs.columns:
            raise ValueError(
                "phrase clauses need stored text; this index has none "
                "(vector-mode build)"
            )
        must_set = sorted(
            set(analyzed(p.must)) | {t for ph in phrases for t in ph}
        )
        weights: dict[str, float] = {t: 1.0 for t in must_set}
        for t in analyzed(p.should):
            weights[t] = max(weights.get(t, 0.0), 1.0)
        for term, dist in p.fuzzy:
            for t, w in self._fuzzy_expansions(term, dist, 50):
                weights[t] = max(weights.get(t, 0.0), w)
        for pre in p.prefixes:
            for r in self.suggest_terms(pre, 64).collect():
                weights[r["term"]] = max(weights.get(r["term"], 0.0), 1.0)
        must_not = sorted(set(analyzed(p.must_not)))
        flt = doc_filter
        for name, val in p.filters:
            rhs = int(val) if val.lstrip("-").isdigit() else val
            cond = F.col(name) == rhs
            flt = cond if flt is None else (flt & cond)
        if not weights:
            return self._no_hits()
        dt = self._pruned_doc_terms(sorted(set(weights) | set(must_not)))
        qdf = self.spark.createDataFrame(
            sorted(weights.items()), "term STRING, qweight DOUBLE"
        )
        scored = (
            dt.where(F.col("term").isin(list(weights)))
            .join(F.broadcast(qdf), "term")
            .groupBy("doc_int")
            .agg(
                F.sum(F.col("weight") * F.col("qweight")).alias("score"),
                F.count_distinct(
                    F.when(F.col("term").isin(must_set), F.col("term"))
                ).alias("_nm"),
            )
            .where((F.col("_nm") == len(must_set)) & (F.col("score") > 0))
            .select("doc_int", "score")
        )
        if must_not:
            scored = scored.join(
                dt.where(F.col("term").isin(must_not)).select("doc_int").distinct(),
                "doc_int",
                "left_anti",
            )
        deleted = self._deleted()
        if deleted is not None:
            scored = scored.join(
                F.broadcast(deleted.select("doc_int")), "doc_int", "left_anti"
            )
        if flt is not None:
            scored = scored.join(
                self.docs.where(flt).select("doc_int"), "doc_int", "left_semi"
            )
        if phrases:
            hay = F.concat(
                F.lit(" "),
                F.array_join(tokenize(F.col("text"), cfg.analyzer), " "),
                F.lit(" "),
            )
            cond = None
            for ph in phrases:
                c = F.instr(hay, " " + " ".join(ph) + " ") > 0
                cond = c if cond is None else (cond & c)
            scored = (
                scored.join(self.docs.select("doc_int", "text"), "doc_int")
                .where(cond)
                .select("doc_int", "score")
            )
        topk = scored.orderBy(F.desc("score"), F.asc("doc_int")).limit(top_k)
        return self._attach_docs(topk, False)

    def suggest_terms(self, prefix: str, n: int = 10) -> DataFrame:
        """(term, df) — autocomplete off the index's term dictionary:
        ``startswith`` compiles to a range predicate pushed to the sorted
        term_stats scan, ranked df desc / term asc via
        TakeOrderedAndProject (no dictionary collect)."""
        return (
            self.cat.read(self.spark, "term_stats")
            .where(F.col("term").startswith(prefix))
            .select("term", "df")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(n)
        )

    def prefix_search(
        self,
        prefix: str,
        top_k: int = 10,
        max_expansions: int = 64,
        use_cosine: bool = False,
        method: str = "sql",
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """Lucene PrefixQuery over the index: expand the prefix to at most
        ``max_expansions`` dictionary terms (df desc, term asc — the
        highest-signal expansions when the cap binds), then run a regular
        OR search with unit weights — which means the expansion composes
        with BOTH query paths (WAND pruning included) and with
        ``doc_filter``.  The expansion is one tiny bounded job against the
        prefix-pruned term_stats scan."""
        _check_method(method)
        exp = [r["term"] for r in self.suggest_terms(prefix, max_expansions).collect()]
        if not exp:
            return self._no_hits()
        return self.search(
            [(t, 1.0) for t in exp], top_k=top_k, use_cosine=use_cosine,
            method=method, doc_filter=doc_filter,
        )

    def near_search(
        self,
        term_a: str,
        term_b: str,
        slop: int = 5,
        top_k: int = 10,
        ordered: bool = False,
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """Lucene SpanNearQuery over the index: docs where the two terms
        occur within ``slop`` token positions (``ordered=True`` requires
        a before b), ranked by BM25 over the pair.  Same candidate-then-
        verify shape as phrase_search — the conjunctive candidate set
        comes off the bucket-pruned doc_terms scan, and only candidate
        docs' text is re-tokenized for the position check (the position
        stream is filtered to the two terms before the self-join)."""
        from splade_easy_spark.adhoc import _phrase_tokens
        from splade_easy_spark.functions.text import tokenize

        if "text" not in self.docs.columns:
            raise ValueError(
                "near_search needs stored text; this index has none "
                "(vector-mode build)"
            )
        a_terms = _phrase_tokens(term_a, self.config)
        b_terms = _phrase_tokens(term_b, self.config)
        if len(a_terms) != 1 or len(b_terms) != 1:
            raise ValueError("near_search takes exactly one term per side")
        ta, tb = a_terms[0], b_terms[0]
        distinct = sorted({ta, tb})
        dt = self._pruned_doc_terms(distinct)
        cand = (
            dt.groupBy("doc_int")
            .agg(
                F.sum("weight").alias("score"),
                F.count_distinct("term").alias("_nt"),
            )
            .where(F.col("_nt") == len(distinct))
            .select("doc_int", "score")
        )
        deleted = self._deleted()
        if deleted is not None:
            cand = cand.join(
                F.broadcast(deleted.select("doc_int")), "doc_int", "left_anti"
            )
        if doc_filter is not None:
            cand = cand.join(
                self.docs.where(doc_filter).select("doc_int"), "doc_int", "left_semi"
            )
        pos = (
            cand.join(self.docs.select("doc_int", "text"), "doc_int")
            .select(
                "doc_int",
                F.posexplode(tokenize(F.col("text"), self.config.analyzer)).alias(
                    "pos", "tok"
                ),
            )
            .where(F.col("tok").isin(distinct))
        )
        pa = pos.where(F.col("tok") == ta).select("doc_int", F.col("pos").alias("pa"))
        pb = pos.where(F.col("tok") == tb).select("doc_int", F.col("pos").alias("pb"))
        gap = (
            (F.col("pb") - F.col("pa")).between(1, slop)
            if ordered
            else F.abs(F.col("pa") - F.col("pb")).between(1, slop)
        )
        near_ids = pa.join(pb, "doc_int").where(gap).select("doc_int").distinct()
        verified = cand.join(near_ids, "doc_int", "left_semi")
        topk = verified.orderBy(F.desc("score"), F.asc("doc_int")).limit(top_k)
        return self._attach_docs(topk, False)

    def regex_search(
        self,
        pattern: str,
        top_k: int = 10,
        max_expansions: int = 64,
        use_cosine: bool = False,
        method: str = "sql",
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """Lucene RegexpQuery over the index: anchored full-term pattern
        expanded against the term dictionary (df desc / term asc, capped),
        then a regular OR search with unit weights.  A general regex has
        no pushdown, so the expansion scans term_stats — |dictionary| ≪
        |corpus| and the scan is embarrassingly parallel, the same trade
        Lucene makes when a pattern's automaton has no literal prefix."""
        _check_method(method)
        exp = [
            r["term"]
            for r in self.cat.read(self.spark, "term_stats")
            .where(F.col("term").rlike(f"^(?:{pattern})$"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .select("term")
            .collect()
        ]
        if not exp:
            return self._no_hits()
        return self.search(
            [(t, 1.0) for t in exp], top_k=top_k, use_cosine=use_cosine,
            method=method, doc_filter=doc_filter,
        )

    def facet_counts(
        self,
        query: str | list[tuple[str, float]],
        facet_col: str,
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """(facet, n_docs) — Lucene/Solr-style faceting: matching-doc
        counts (score > 0, tombstones excluded) per value of a stored doc
        column, desc count / asc facet.  The match set joins back to the
        docs scan pruned to (doc_int, facet); the facet agg itself is tiny
        (|facets| ≪ |docs|), so the cost is one postings-bucket scan plus
        one doc-grain join — the same work as a search without the top-k."""
        terms = analyze_query(query, self.config) if isinstance(query, str) else query
        if not terms:
            return self.spark.createDataFrame([], "facet STRING, n_docs BIGINT")
        scores = self._scores(terms, use_cosine=False)
        deleted = self._deleted()
        if deleted is not None:
            scores = scores.join(
                F.broadcast(deleted.select("doc_int")), "doc_int", "left_anti"
            )
        d = self.docs.where(doc_filter) if doc_filter is not None else self.docs
        return (
            scores.join(d.select("doc_int", F.col(facet_col).alias("facet")), "doc_int")
            .groupBy("facet")
            .agg(F.count("*").alias("n_docs"))
            .orderBy(F.desc("n_docs"), F.asc("facet"))
        )

    def more_like_this(
        self,
        doc_id: str,
        query_terms: int = 10,
        top_k: int = 10,
        use_cosine: bool = False,
        method: str = "sql",
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """Lucene-style More-Like-This: seed a search from the source
        doc's top ``query_terms`` BM25-weighted terms (desc weight, asc
        term), query weight = source weight, source doc excluded.

        Scale shape: the source vector is NEVER read from doc_terms (a
        doc-grain lookup there scans every term bucket) — the seed doc's
        tf vector, its idf join against ``term_stats`` and the weight cut
        are ONE driver-synchronous job: tokenize the pushed point lookup
        with the build's own analyzer expression, count terms, broadcast
        that handful of rows against the term_stats scan through the
        builder's own ``bm25_weight_expr`` (no formula duplicated, no
        full-table pass; |dictionary| ≪ |corpus| and the scan is
        embarrassingly parallel).  ``avgdl`` comes from the searcher's
        as-of-open stats — no per-call corpus_stats job.  Round-4/5 shape
        was three jobs per call (point lookup → stats → weights); folding
        them removed two job floors from the latency path.  The term cut
        ranks on round(weight, 9) so near-ulp weight noise can't flip the
        LIMIT boundary between runs."""
        from splade_easy_spark.functions.bm25 import bm25_weight_expr
        from splade_easy_spark.functions.text import tokenize

        _check_method(method)
        if "text" not in self.docs.columns:
            raise ValueError(
                "more_like_this needs stored text; this index has none "
                "(vector-mode build)"
            )
        avgdl = float(self.stats["avgdl"] or 1.0)
        src = (
            self.docs.where(F.col("doc_id") == doc_id)
            .select("text", "doc_len")
            .limit(1)
        )
        tfdf = (
            src.select(
                F.explode(tokenize(F.col("text"), self.config.analyzer)).alias("term"),
                "doc_len",
            )
            .groupBy("term")
            .agg(F.count("*").cast("int").alias("tf"), F.first("doc_len").alias("_dl"))
        )
        ts = self.cat.read(self.spark, "term_stats").select("term", "idf")
        picked = (
            ts.join(F.broadcast(tfdf), "term")
            .select(
                "term",
                bm25_weight_expr(
                    F.col("tf"), F.col("_dl"), F.lit(avgdl), F.col("idf"),
                    self.config.bm25,
                ).alias("w"),
            )
            .orderBy(F.desc(F.round("w", 9)), F.asc("term"))
            .limit(query_terms)
            .collect()
        )
        terms = [(r["term"], float(r["w"])) for r in picked]
        if not terms:
            # empty expansion: either the doc is missing (KeyError, as
            # before) or it has no in-vocabulary terms (empty result) —
            # disambiguate on the rare path only
            if src.count() == 0:
                raise KeyError(f"doc_id not in index: {doc_id!r}")
            return self._no_hits()
        # overfetch by one: the source doc itself is typically the top hit
        out = self.search(
            terms, top_k=top_k + 1, use_cosine=use_cosine, method=method,
            doc_filter=doc_filter,
        )
        return (
            out.where(F.col("doc_id") != doc_id)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(top_k)
        )

    def search_snippets(
        self,
        query: str | list[tuple[str, float]],
        top_k: int = 10,
        before: int = 30,
        width: int = 80,
        use_cosine: bool = False,
        method: str = "sql",
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """(doc_id, score, pos, snippet, …) — KWIC highlighting over the
        index: the regular top-k search plus, per hit, the earliest
        1-based character position of any query term in lower(text) and a
        ``width``-char window starting ``before`` chars earlier.  The
        window math runs post-limit on the k result rows (the text join
        the search already does), never a corpus pass — same semantics as
        ``adhoc.search_snippets``."""
        _check_method(method)
        if "text" not in self.docs.columns:
            raise ValueError(
                "search_snippets needs stored text; this index has none "
                "(vector-mode build)"
            )
        terms = analyze_query(query, self.config) if isinstance(query, str) else query
        hits = self.search(
            query, top_k=top_k, use_cosine=use_cosine, return_text=True,
            method=method, doc_filter=doc_filter,
        )
        if not terms:
            return hits.select(
                "doc_id", "score", F.lit(None).cast("int").alias("pos"),
                F.lit(None).cast("string").alias("snippet"),
            )
        # haystack casing follows the analyzer: with lowercase=True the
        # terms are lowercased so the haystack must be too; with a
        # case-preserving analyzer the raw text already matches the terms
        hay = (
            F.lower(F.col("text"))
            if self.config.analyzer.lowercase
            else F.col("text")
        )
        sentinel = 1 << 30
        cands = [
            F.coalesce(F.nullif(F.instr(hay, t), F.lit(0)), F.lit(sentinel))
            for t, _ in terms
        ]
        pos_raw = cands[0] if len(cands) == 1 else F.least(*cands)
        # never surface the internal sentinel (defensive: pre-analyzed
        # term lists may contain terms not present as substrings)
        pos = F.when(pos_raw < sentinel, pos_raw.cast("int"))
        keep = [c for c in hits.columns if c != "text"]
        return (
            hits.withColumn("pos", pos)
            .withColumn(
                "snippet",
                F.when(
                    F.col("pos").isNotNull(),
                    F.expr(f"substring(text, greatest(pos - {before}, 1), {width})"),
                ),
            )
            .select(*keep, "pos", "snippet")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    def get(self, doc_id: str, load_text: bool = True) -> dict | None:
        """Point lookup.  The reference scans every shard until hit
        (``src/splade_easy/retriever.py:204-213``); here the doc_id
        predicate pushes down to the parquet scan.
        """
        cols = ["doc_id", "conv_id", "turn_idx", "role", "tool", "ts", "doc_len", "doc_int"]
        if load_text:
            cols.append("text")
        out = self.docs.where(F.col("doc_id") == doc_id).select(*cols)
        deleted = self._deleted()
        if deleted is not None:
            # ONE Spark job per lookup: the tombstone check rides the fetch
            # plan as a broadcast left_anti (mirrors get_batch) instead of a
            # separate existence-count job — the pushed doc_id predicate on
            # the tombstone scan keeps the broadcast side a handful of rows
            out = out.join(
                F.broadcast(
                    deleted.where(F.col("doc_id") == doc_id).select("doc_id")
                ),
                "doc_id",
                "left_anti",
            )
        rows = out.limit(1).collect()
        return rows[0].asDict() if rows else None

    def get_batch(self, doc_ids: list[str], load_text: bool = True) -> DataFrame:
        cols = ["doc_id", "conv_id", "turn_idx", "role", "tool", "ts", "doc_len"]
        if load_text:
            cols.append("text")
        out = self.docs.where(F.col("doc_id").isin(doc_ids)).select(*cols)
        deleted = self._deleted()
        if deleted is not None:
            out = out.join(F.broadcast(deleted.select("doc_id")), "doc_id", "left_anti")
        return out

    def doc_vector(self, doc_id: str) -> list[tuple[str, float]]:
        """A document's BM25 sparse vector (term, weight), sorted by term —
        the analog of the reference returning token_ids/weights from
        ``get`` (``src/splade_easy/retriever.py:204-219``)."""
        rows = (
            self.doc_terms.join(
                F.broadcast(self.docs.where(F.col("doc_id") == doc_id).select("doc_int")),
                "doc_int",
            )
            .select("term", "weight")
            .collect()
        )
        return sorted((r["term"], r["weight"]) for r in rows)
