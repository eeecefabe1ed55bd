"""Seeded inputs: transcripts, query pools, interactive request mixes and
append batches.  Everything here is plain Python/NumPy; the engine only
ever sees the generated rows and query strings.

The transcript shape follows the engine's input contract
``(conv_id, turn_idx, role, text, tool, ts)``: 8-64 turns per conversation,
roles cycling user/assistant/tool, a Zipf(1.07) token mix over the engine's
pseudo-word vocabulary, 5-200 tokens per turn and the tokenizer edge cases
(empty turns, repeated tokens, upper case and punctuation).
"""

from __future__ import annotations

import re
from collections import Counter
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd
import pyarrow as pa

from splade_easy_spark.data import generate_query_set
from splade_easy_spark.data.transcripts import make_vocab

_ROLES = ["user", "assistant", "tool"]
_TOOLS = ["bash", "search", "python", "browser", "editor"]
_EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)
_TOKEN = re.compile("[a-z0-9]+")
ARROW_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def tokens(text: str) -> list[str]:
    """The engine's default analyzer: lower case, ``[a-z0-9]+`` runs."""
    return _TOKEN.findall(text.lower())


def transcripts(seed: int, first_conv: int, n_turns: int, vocab_size: int) -> tuple[pd.DataFrame, int]:
    """Exactly ``n_turns`` turns from conversations numbered from
    ``first_conv`` (the last one cut short), and the next free conversation
    number.  Conversation ``i`` depends only on ``(seed, i)``."""
    vocab = np.array(make_vocab(vocab_size), dtype=object)
    p = 1.0 / np.arange(1, vocab_size + 1, dtype=np.float64) ** 1.07
    cum = np.cumsum(p / p.sum())
    rows: dict[str, list] = {k: [] for k in ["conv_id", "turn_idx", "role", "text", "tool", "ts"]}
    ci = first_conv
    while len(rows["text"]) < n_turns:
        rng = np.random.default_rng([seed, ci])
        for t in range(min(int(rng.integers(8, 65)), n_turns - len(rows["text"]))):
            role = _ROLES[t % 3] if rng.random() < 0.9 else _ROLES[int(rng.integers(0, 3))]
            edge = rng.random()
            if edge < 0.02:
                text = ""
            else:
                n_tok = int(rng.integers(5, 201))
                idx = np.minimum(np.searchsorted(cum, rng.random(n_tok), side="right"), vocab_size - 1)
                words = vocab[idx]
                if edge < 0.06:
                    words = np.repeat(words[: max(1, n_tok // 4)], 4)[:n_tok]
                text = " ".join(words.tolist())
                if edge < 0.10:
                    text = text.upper().replace(" ", ", ", 3) + "!"
                elif edge < 0.14:
                    text = text.capitalize() + "."
            rows["conv_id"].append(f"conv_{ci:08d}")
            rows["turn_idx"].append(t)
            rows["role"].append(role)
            rows["text"].append(text)
            rows["tool"].append(_TOOLS[int(rng.integers(0, 5))] if role == "tool" else None)
            rows["ts"].append(_EPOCH + timedelta(seconds=ci * 3600 + t * 30))
        ci += 1
    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return pdf, ci


def doc_ids(pdf: pd.DataFrame) -> list[str]:
    """The engine's document key, ``conv_id#turn_idx``."""
    return [f"{c}#{t}" for c, t in zip(pdf["conv_id"], pdf["turn_idx"])]


def query_pool(seed: int, n: int, vocab_size: int) -> list[str]:
    """``n`` query texts from the engine's reference query-set generator
    (Zipf multi-term, single-term and no-hit queries)."""
    return [q["text"] for q in generate_query_set(n, seed=seed, vocab_size=vocab_size)]


def zipf_queries(seed: int, n: int, n_terms: int, vocab_size: int) -> list[str]:
    """``n`` queries of ``n_terms`` distinct words drawn with the corpus's
    Zipf(1.07) word frequencies."""
    vocab = make_vocab(vocab_size)
    p = 1.0 / np.arange(1, vocab_size + 1, dtype=np.float64) ** 1.07
    rng = np.random.default_rng([seed, 11])
    return [" ".join(vocab[i] for i in rng.choice(vocab_size, n_terms, replace=False, p=p / p.sum()))
            for _ in range(n)]


#: interactive request mix: (verb, share)
MIX = [
    ("search_wand", 0.40),
    ("search_sql", 0.15),
    ("search_filtered", 0.10),
    ("query_dsl", 0.10),
    ("facet_counts", 0.10),
    ("more_like_this", 0.05),
    ("get", 0.10),
]


def requests(seed: int, n: int, pool: list[str], docs: pd.DataFrame) -> list[dict]:
    """``n`` interactive requests drawn from ``MIX``.  DSL requests take a
    must-term and a two-token phrase from one real turn, so they match."""
    rng = np.random.default_rng([seed, 7])
    # each block of 20 requests holds the exact mix, ordered by smooth
    # weighted round-robin so that every prefix stays close to the mix: a
    # run cut after any number of requests sees the stated shares, and the
    # latency median does not move with which verbs a seed put first
    weights = [round(share * 20) for _, share in MIX]
    credit = [0] * len(MIX)
    block = []
    for _ in range(sum(weights)):
        credit = [c + w for c, w in zip(credit, weights)]
        j = credit.index(max(credit))
        credit[j] -= sum(weights)
        block.append(MIX[j][0])
    verbs = (block * (n // len(block) + 1))[:n]
    ids = doc_ids(docs)
    texts = docs["text"].tolist()
    vocab_hot = make_vocab(200)
    out = []
    for i, verb in enumerate(verbs):
        verb = str(verb)
        req = {"id": f"r{i}", "verb": verb}
        if verb in ("get", "more_like_this"):
            req["doc_id"] = ids[int(rng.integers(0, len(ids)))]
        elif verb == "query_dsl":
            while True:
                toks = tokens(texts[int(rng.integers(0, len(texts)))])
                if len(toks) >= 3:
                    break
            j = int(rng.integers(0, len(toks) - 1))
            must = toks[int(rng.integers(0, len(toks)))]
            excl = vocab_hot[int(rng.integers(0, len(vocab_hot)))]
            if excl in (must, toks[j], toks[j + 1]):
                excl = "zzqxnone"
            should = tokens(pool[int(rng.integers(0, len(pool)))])[:1]
            req["text"] = " ".join(
                [f"+{must}", f'"{toks[j]} {toks[j + 1]}"', f"-{excl}"] + should
            )
            req["dsl"] = {"must": [must], "phrase": toks[j : j + 2], "not": [excl], "should": should}
        else:
            req["text"] = pool[int(rng.integers(0, len(pool)))]
        out.append(req)
    return out


def properties(docs: pd.DataFrame, queries: list[str], vocab_size: int, n_hit) -> dict:
    """Input properties later changes can name: size, vocabulary, query
    length mix, no-hit share and the share of queries holding a
    top-100-document-frequency term.  ``n_hit(terms)`` counts matching docs."""
    df: Counter = Counter()
    text_bytes = 0
    for t in docs["text"]:
        text_bytes += len(t.encode())
        df.update(set(tokens(t)))
    top = {t for t, _ in df.most_common(100)}
    lens = Counter()
    no_hit = hot = 0
    for q in queries:
        terms = sorted(set(tokens(q)))
        lens[str(len(terms)) if len(terms) < 4 else "4+"] += 1
        no_hit += n_hit(terms) == 0
        hot += any(t in top for t in terms)
    nq = max(1, len(queries))
    return {
        "turns": len(docs),
        "text_bytes": text_bytes,
        "generator_vocab": vocab_size,
        "distinct_terms": len(df),
        "queries": len(queries),
        "query_terms_mix": {k: round(v / nq, 4) for k, v in sorted(lens.items())},
        "no_hit_share": round(no_hit / nq, 4),
        "top100_df_term_share": round(hot / nq, 4),
    }
