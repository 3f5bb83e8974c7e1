"""Output checks, run outside the timed phase. Each takes what the engine
returned plus what the generator knows and returns a list of problems
(empty when the output is correct). Plain Python and numpy only: the
expected values never come from the code under test."""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict

import numpy as np

TOKEN_RE = re.compile(r"\w+")
PUNCT_RE = re.compile(r"[!-/:-@\[-`{-~]")
STOPWORDS = frozenset(("the", "a", "an", "of", "and", "or", "is", "to", "in", "it", "on"))

# the manifest contract the corpus_prep workload runs under
SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}
CHUNK_TOKENS = 512
NEARDUP_THRESHOLD = 0.3
SHINGLE_N = 3


# -- maplejuice_jobs --------------------------------------------------------


def check_maple_keys(keys: list[str], expected: dict) -> list[str]:
    want = sorted(expected)
    if keys != want:
        return [f"maple keys: got {len(keys)} keys, want {len(want)} (first diff near {_first_diff(keys, want)})"]
    return []


def check_totals(rows: dict[str, str], expected: dict[str, tuple[int, int]]) -> list[str]:
    """``rows``: juice output key -> ``"<sum>,<count>"``."""
    bad = [k for k in expected if rows.get(k) != f"{expected[k][0]},{expected[k][1]}"]
    extra = set(rows) - set(expected)
    if bad or extra:
        return [f"juice totals: {len(bad)} wrong keys, {len(extra)} unexpected keys"]
    return []


def check_filter(lines: list[str], regex: str, want_rows: int) -> list[str]:
    out = []
    if len(lines) != want_rows:
        out.append(f"sql filter: {len(lines)} rows, want {want_rows}")
    if any(regex not in line for line in lines):
        out.append("sql filter: a returned line does not match the regex")
    return out


def check_join(n_rows: int, amount_sum: int, want_rows: int, want_amount: int) -> list[str]:
    out = []
    if n_rows != want_rows:
        out.append(f"sql join: {n_rows} rows, want {want_rows}")
    if amount_sum != want_amount:
        out.append(f"sql join: amount sum {amount_sum}, want {want_amount}")
    return out


# -- corpus_prep ------------------------------------------------------------


def tokens(text: str) -> list[str]:
    return TOKEN_RE.findall(text.lower())


def passes_quality(text: str) -> bool:
    """The Gopher rules of the quality stage: >= 20 tokens, mean token
    length in [3, 10], at least one stopword, punctuation <= 1/10 of the
    characters."""
    toks = tokens(text)
    n = len(toks)
    chars = sum(len(t) for t in toks)
    return (
        n >= 20
        and 3 * n <= chars <= 10 * n
        and any(t in STOPWORDS for t in toks)
        and 10 * len(PUNCT_RE.findall(text)) <= len(text)
    )


def split_of(doc_id: int) -> str:
    bucket = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 10_000
    acc = 0.0
    labels = list(SPLITS)
    for label in labels[:-1]:
        acc += SPLITS[label]
        if bucket < int(round(acc * 10_000)):
            return label
    return labels[-1]


def shingles(text: str) -> set[tuple[str, ...]]:
    toks = tokens(text)
    if len(toks) < SHINGLE_N:
        return {tuple(toks)}
    return {tuple(toks[i : i + SHINGLE_N]) for i in range(len(toks) - SHINGLE_N + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def check_manifest(
    rows: list[dict],
    corpus: dict[int, tuple[str, str]],
    clusters: list[list[int]],
    exact: list[bool],
) -> list[str]:
    """Manifest invariants over ``(doc_id, lang, split, n_tokens, chunk_id,
    chunk_offset)`` rows for a corpus ``doc_id -> (text, lang)``:

    - ids are unique and every kept doc passes the quality rules;
    - each planted near-dup cluster keeps at least one member, and a
      formatting-variant cluster (identical tokens) exactly one;
    - a dropped quality doc outside the planted clusters has a
      Jaccard >= threshold partner (a real near-duplicate);
    - lang, token count and split match the input and the split rule;
    - chunk ids/offsets are the exclusive token prefix sum per
      (lang, split) in doc_id order, divided by the chunk size."""
    out: list[str] = []
    ids = [r["doc_id"] for r in rows]
    if len(set(ids)) != len(ids):
        out.append("manifest: duplicate doc_id")
    kept = set(ids)
    quality = {i for i, (text, _) in corpus.items() if passes_quality(text)}
    if kept - quality:
        out.append(f"manifest: {len(kept - quality)} kept docs fail the quality rules")
    planted = set()
    for c, same_tokens in zip(clusters, exact):
        planted.update(c)
        n = len(kept.intersection(c))
        if n == 0 or (same_tokens and n != 1):
            out.append(f"manifest: planted cluster {c} keeps {n} members")
    dropped = (quality - kept) - planted
    if dropped:
        sh = {i: shingles(corpus[i][0]) for i in quality}
        lone = [
            i
            for i in dropped
            if not any(j != i and jaccard(sh[i], sh[j]) >= NEARDUP_THRESHOLD for j in quality)
        ]
        if lone:
            out.append(f"manifest: {len(lone)} quality docs dropped without a near-duplicate")
    groups: dict[tuple[str, str], list[dict]] = defaultdict(list)
    for r in rows:
        text, lang = corpus.get(r["doc_id"], ("", None))
        if r["lang"] != lang:
            out.append(f"manifest: doc {r['doc_id']} lang {r['lang']!r}, want {lang!r}")
            break
        if r["n_tokens"] != len(tokens(text)):
            out.append(f"manifest: doc {r['doc_id']} n_tokens {r['n_tokens']}")
            break
        if r["split"] != split_of(r["doc_id"]):
            out.append(f"manifest: doc {r['doc_id']} split {r['split']!r}")
            break
        groups[(r["lang"], r["split"])].append(r)
    for g in groups.values():
        start = 0
        for r in sorted(g, key=lambda r: r["doc_id"]):
            if (r["chunk_id"], r["chunk_offset"]) != divmod(start, CHUNK_TOKENS):
                out.append(f"manifest: doc {r['doc_id']} chunk layout")
                return out
            start += r["n_tokens"]
    return out


# -- index_serving ----------------------------------------------------------


def cosine6(q: np.ndarray, v: np.ndarray) -> float:
    q = q.astype(np.float64)
    v = v.astype(np.float64)
    return round(float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v))), 6)


def check_ivf(rows: list[dict], query: np.ndarray, live: dict[int, np.ndarray], k: int) -> list[str]:
    """IVF search rows ``(neighbor_id, score, rank)`` for one query against
    the live corpus ``id -> vector``: ``k`` rows, each neighbor live,
    each score the numpy cosine at 6 decimals, ranks 1..k in
    (score desc, id asc) order."""
    if len(rows) != k:
        return [f"ivf: {len(rows)} rows, want {k}"]
    rows = sorted(rows, key=lambda r: r["rank"])
    if [r["rank"] for r in rows] != list(range(1, k + 1)):
        return ["ivf: ranks are not 1..k"]
    for r in rows:
        v = live.get(r["neighbor_id"])
        if v is None:
            return [f"ivf: neighbor {r['neighbor_id']} is not live"]
        if abs(cosine6(query, v) - r["score"]) > 1.5e-6:
            return [f"ivf: neighbor {r['neighbor_id']} score {r['score']} != {cosine6(query, v)}"]
    order = sorted(rows, key=lambda r: (-r["score"], r["neighbor_id"]))
    if [r["neighbor_id"] for r in order] != [r["neighbor_id"] for r in rows]:
        return ["ivf: rows are not in (score desc, id asc) order"]
    return []


BM25_K1 = 1.2
BM25_B = 0.75
BM25_SCALE = 1_000_000


def bm25_topk(docs: dict[int, str], terms: list[str], k: int) -> list[tuple]:
    """Top-``k`` ``(doc_id, score, rank)`` for one keyword query over the
    corpus ``doc_id -> text``, in plain Python: Okapi BM25 (k1 1.2, b
    0.75, idf ``ln((N - df + 0.5) / (df + 0.5) + 1)``), each term's
    contribution quantized to 6 decimals before the per-doc sum, ties
    broken by doc id. The arithmetic follows the engine's expression
    order, so equal inputs give bit-equal scores."""
    toks = {i: tokens(t) for i, t in docs.items()}
    avgdl = sum(len(t) for t in toks.values()) / len(toks)
    postings: dict[str, dict[int, int]] = {t: {} for t in dict.fromkeys(terms)}
    for i, ts in toks.items():
        for t in ts:
            if t in postings:
                postings[t][i] = postings[t].get(i, 0) + 1
    score: dict[int, int] = defaultdict(int)
    for post in postings.values():
        df = len(post)
        idf = math.log((len(toks) - df + 0.5) / (df + 0.5) + 1.0)
        for i, tf in post.items():
            c = idf * (tf * (BM25_K1 + 1.0)) / (tf + BM25_K1 * ((1.0 - BM25_B) + BM25_B * len(toks[i]) / avgdl))
            score[i] += math.floor(c * BM25_SCALE + 0.5)
    ranked = sorted(score.items(), key=lambda p: (-p[1], p[0]))[:k]
    return [(i, s / BM25_SCALE, r + 1) for r, (i, s) in enumerate(ranked)]


def check_bm25(got: list[tuple], want: list[tuple]) -> list[str]:
    """Rows ``(doc_id, score, rank)`` of one query: the serving index must
    equal the recompute over the live corpus exactly."""
    if sorted(got, key=lambda r: r[2]) != sorted(want, key=lambda r: r[2]):
        return [f"bm25: {len(got)} rows differ from the recompute form ({len(want)} rows)"]
    return []


def _first_diff(a: list, b: list):
    for x, y in zip(a, b):
        if x != y:
            return (x, y)
    return None
