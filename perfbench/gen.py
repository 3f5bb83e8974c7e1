"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: it draws from one
``numpy.random.Generator`` (PCG64) and writes plain files (CSV or
parquet) that the engine then reads. The same seed gives byte-identical
files. Each generator also returns what the output checks need (expected
totals, planted clusters, live corpora) and a ``shape`` dict of the input
properties the result records.
"""

from __future__ import annotations

import os
import string
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- sizes (one place, recorded in the result's shape dict) ----------------
# README.md ("Where the parameters come from") gives each value's source;
# a value without one is an unverified assumption and is labelled so.

MJ_LINES = 100_000
MJ_KEYS = 2_000
MJ_ZIPF = 1.1
MJ_HOT_SHARE = 10 / 121  # share of lines the sql filter selects (the demo filter: 10 of 121)
MJ_DIM_SHARE = 0.8  # share of keys present in the join's right side
MJ_REGIONS = 10

CP_DOCS = 1_200
CP_DUP_SHARE = 0.2  # share of docs that are planted near-dup copies
CP_LOWQ_SHARE = 0.1  # share of docs planted to fail the quality filter
CP_VOCAB = 3_000
CP_ZIPF = 1.05
CP_LANGS = {"en": 0.6, "de": 0.25, "fr": 0.15}
CP_EDIT_SHARE = 0.05  # tokens replaced in each planted near-dup copy

IS_VECTORS = 2_000
IS_DIM = 32
IS_CLUSTERS = 32
IS_NOISE = 0.35
IS_DOCS = 1_000
IS_VOCAB = 4_000
IS_ZIPF = 1.1
IS_QUERY_ZIPF = 1.2
IS_BATCH = 50  # rows per ingest batch (both indexes)
IS_BATCHES = 8  # ingest batches prepared per index (one per request cycle)
IS_QUERIES = 400  # distinct read requests prepared per index
IS_DUP_SHARE = 0.25  # share of each vector batch planted as near-dups
IS_DELETE_IDS = 16  # ids tombstoned per delete, per index
IS_DELETES = 8  # disjoint id sets: one delete per request cycle
STOPWORDS = ("the", "a", "an", "of", "and", "or", "is", "to", "in", "it", "on")


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def _words(rng: np.random.Generator, n: int, lo: int = 3, hi: int = 9) -> list[str]:
    """``n`` distinct lowercase pseudo-words (3..9 letters), none of them
    a stopword."""
    letters = np.array(list(string.ascii_lowercase))
    out: list[str] = []
    seen = set(STOPWORDS)
    while len(out) < n:
        w = "".join(rng.choice(letters, size=int(rng.integers(lo, hi + 1))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", write_statistics=True)


# -- maplejuice_jobs --------------------------------------------------------


@dataclass
class MapleJuiceInputs:
    events_csv: str
    dims_csv: str
    input_bytes: int
    lines: int
    totals: dict[str, tuple[int, int]]  # key -> (sum amount, count)
    filter_rows: int
    join_rows: int
    join_amount: int
    regex: str
    shape: dict = field(default_factory=dict)


def maplejuice_inputs(seed: int, out_dir: str, lines: int = MJ_LINES) -> MapleJuiceInputs:
    """Line-oriented CSV ``id,key,amount,tag`` with a Zipf key column, and
    a ``key,region`` dimension CSV covering a fixed share of the keys.
    ``tag`` starts with ``hot`` on a fixed share of lines: the sql filter
    regex ``,hot`` selects exactly those (no other field contains it)."""
    rng = np.random.default_rng([seed, 1])
    keys = np.array([f"k{i:05d}" for i in rng.permutation(MJ_KEYS)])
    kidx = rng.choice(MJ_KEYS, size=lines, p=_zipf_p(MJ_KEYS, MJ_ZIPF))
    amount = rng.integers(1, 1000, size=lines)
    hot = rng.random(lines) < MJ_HOT_SHARE
    tagn = rng.integers(0, 1000, size=lines)
    rows = ["id,key,amount,tag"]
    for i in range(lines):
        tag = f"hot{tagn[i]:03d}" if hot[i] else f"cold{tagn[i]:03d}"
        rows.append(f"{i},{keys[kidx[i]]},{amount[i]},{tag}")
    events_csv = os.path.join(out_dir, "events.csv")
    with open(events_csv, "w") as fh:
        fh.write("\n".join(rows) + "\n")

    in_dims = rng.random(MJ_KEYS) < MJ_DIM_SHARE
    region = rng.integers(0, MJ_REGIONS, size=MJ_KEYS)
    dims_csv = os.path.join(out_dir, "dims.csv")
    with open(dims_csv, "w") as fh:
        fh.write("key,region\n")
        for k in range(MJ_KEYS):
            if in_dims[k]:
                fh.write(f"{keys[k]},r{region[k]}\n")

    input_bytes = os.path.getsize(events_csv) + os.path.getsize(dims_csv)
    sums = np.bincount(kidx, weights=amount, minlength=MJ_KEYS).astype(np.int64)
    counts = np.bincount(kidx, minlength=MJ_KEYS)
    totals = {keys[k]: (int(sums[k]), int(counts[k])) for k in range(MJ_KEYS) if counts[k]}
    joined = in_dims[kidx]
    return MapleJuiceInputs(
        events_csv=events_csv,
        dims_csv=dims_csv,
        input_bytes=input_bytes,
        lines=lines,
        totals=totals,
        filter_rows=int(hot.sum()),
        join_rows=int(joined.sum()),
        join_amount=int(amount[joined].sum()),
        regex=",hot",
        shape={
            "lines": lines,
            "key_cardinality": MJ_KEYS,
            "distinct_keys_drawn": len(totals),
            "key_zipf_s": MJ_ZIPF,
            "filter_selectivity": round(float(hot.mean()), 6),
            "dim_key_share": MJ_DIM_SHARE,
            "input_bytes": input_bytes,
        },
    )


# -- corpus_prep ------------------------------------------------------------


@dataclass
class CorpusInputs:
    documents: str
    input_bytes: int
    docs: int
    clusters: list[list[int]]  # planted near-dup clusters (doc ids)
    exact: list[bool]  # cluster i is a formatting-variant cluster
    low_quality: list[int]
    shape: dict = field(default_factory=dict)


def _doc_tokens(rng, vocab: list[str], p: np.ndarray, n: int) -> list[str]:
    toks = [vocab[i] for i in rng.choice(len(vocab), size=n, p=p)]
    # at least one stopword so the Gopher stopword rule passes
    for _ in range(max(1, n // 12)):
        toks[int(rng.integers(0, n))] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
    return toks


def corpus_inputs(seed: int, out_dir: str, docs: int = CP_DOCS) -> CorpusInputs:
    """Documents ``(doc_id, text, lang, source, n_chars)``.

    - a fixed share are planted near-duplicate copies (a few tokens
      replaced) of a quality base document, in clusters of 2 to 4;
    - a fixed share are planted low-quality (too short, no stopword or
      punctuation-heavy) so the Gopher filter drops them;
    - lengths are log-normal (median ~90 tokens), languages follow
      ``CP_LANGS`` with a per-language Zipf vocabulary.
    Doc ids are shuffled so a cluster's members are not adjacent."""
    rng = np.random.default_rng([seed, 2])
    langs = list(CP_LANGS)
    vocab = {lang: _words(rng, CP_VOCAB) for lang in langs}
    p = _zipf_p(CP_VOCAB, CP_ZIPF)
    n_dup = int(round(docs * CP_DUP_SHARE))
    n_low = int(round(docs * CP_LOWQ_SHARE))
    n_base = docs - n_dup - n_low

    texts: list[str] = []
    lang_of: list[str] = []
    for _ in range(n_base):
        lang = langs[int(rng.choice(len(langs), p=list(CP_LANGS.values())))]
        n = int(np.clip(rng.lognormal(np.log(90), 0.5), 25, 400))
        texts.append(" ".join(_doc_tokens(rng, vocab[lang], p, n)))
        lang_of.append(lang)

    # planted clusters: copies of distinct base docs. Even clusters are
    # formatting variants (case, punctuation, spacing: identical tokens,
    # so LSH must find them); odd clusters replace a few tokens (Jaccard
    # ~0.6-0.85, found with LSH's probability)
    slots: list[list[int]] = []
    left = n_dup
    bases = rng.permutation(n_base)
    b = 0
    while left > 0:
        size = min(int(rng.integers(1, 4)), left)  # 1..3 copies → clusters of 2..4
        base = int(bases[b])
        b += 1
        members = [base]
        toks = texts[base].split(" ")
        for c in range(size):
            copy = list(toks)
            if len(slots) % 2 == 0:
                copy[0] = copy[0].capitalize() if c % 2 == 0 else copy[0].upper()
                copy[-1] += "." * (c + 1)
                copy[len(copy) // 2] = " " + copy[len(copy) // 2]
            else:
                n_edit = max(1, int(len(copy) * CP_EDIT_SHARE))
                for j in rng.choice(len(copy), size=n_edit, replace=False):
                    copy[int(j)] = vocab[lang_of[base]][int(rng.integers(0, CP_VOCAB))]
            members.append(len(texts))
            texts.append(" ".join(copy))
            lang_of.append(lang_of[base])
        slots.append(members)
        left -= size

    low: list[int] = []
    for i in range(n_low):
        lang = langs[int(rng.choice(len(langs), p=list(CP_LANGS.values())))]
        kind = i % 3
        if kind == 0:  # too short
            text = " ".join(_doc_tokens(rng, vocab[lang], p, int(rng.integers(5, 15))))
        elif kind == 1:  # no stopword
            toks = [vocab[lang][j] for j in rng.choice(CP_VOCAB, size=60, p=p)]
            text = " ".join(toks)
        else:  # punctuation-heavy
            toks = _doc_tokens(rng, vocab[lang], p, 40)
            text = " ".join(t + "!?;" for t in toks)
        low.append(len(texts))
        texts.append(text)
        lang_of.append(lang)

    perm = rng.permutation(len(texts))  # slot -> doc_id
    order = np.argsort(perm)  # doc_id -> slot
    ids = np.arange(len(texts), dtype=np.int64)
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([texts[s] for s in order], pa.string()),
            "lang": pa.array([lang_of[s] for s in order], pa.string()),
            "source": pa.array([f"src{int(s) % 7}" for s in order], pa.string()),
            "n_chars": pa.array([len(texts[s]) for s in order], pa.int64()),
        }
    )
    path = os.path.join(out_dir, "documents.parquet")
    _write_parquet(table, path)
    clusters = [sorted(int(perm[s]) for s in members) for members in slots]
    return CorpusInputs(
        documents=path,
        input_bytes=os.path.getsize(path),
        docs=len(texts),
        clusters=clusters,
        exact=[i % 2 == 0 for i in range(len(clusters))],
        low_quality=sorted(int(perm[s]) for s in low),
        shape={
            "docs": len(texts),
            "dup_share": round(n_dup / len(texts), 6),
            "planted_clusters": len(clusters),
            "planted_kinds": "even clusters formatting variants, odd clusters token edits",
            "low_quality_share": round(n_low / len(texts), 6),
            "vocab_per_lang": CP_VOCAB,
            "vocab_zipf_s": CP_ZIPF,
            "length_tokens": "lognormal(median 90, sigma 0.5) clipped to 25..400",
            "lang_mix": CP_LANGS,
            "edit_share": CP_EDIT_SHARE,
            "input_bytes": os.path.getsize(path),
        },
    )


# -- index_serving ----------------------------------------------------------


@dataclass
class ServingInputs:
    vectors: str  # corpus embeddings parquet (vec_id, embedding)
    docs: str  # corpus documents parquet (doc_id, text)
    vec_batches: list[str]  # ingest batch parquet files
    doc_batches: list[str]
    input_bytes: int
    corpus_vecs: dict[int, np.ndarray]
    corpus_docs: dict[int, str]
    batch_vecs: list[dict[int, np.ndarray]]
    batch_dup_src: list[dict[int, int]]  # planted near-dup id -> corpus id
    batch_docs: list[dict[int, str]]
    ivf_queries: list[np.ndarray]
    bm25_queries: list[list[str]]
    delete_vec_sets: list[list[int]]
    delete_doc_sets: list[list[int]]
    shape: dict = field(default_factory=dict)


def _vec_table(ids, vecs) -> pa.Table:
    return pa.table(
        {
            "vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
            "embedding": pa.array(
                [v.tolist() for v in vecs], pa.list_(pa.float32())
            ),
        }
    )


def serving_inputs(seed: int, out_dir: str) -> ServingInputs:
    """Clustered float32 vectors (``IS_CLUSTERS`` unit centers + Gaussian
    noise) and Zipf-vocabulary documents, plus the request stream:
    external query vectors near random centers, 1-3 term keyword queries
    drawn from a steeper Zipf over the same vocabulary, ingest batches
    with fresh ids (a fixed share of each vector batch are copies of
    corpus vectors, which the semantic gate must reject), and the
    disjoint id sets the deletes tombstone."""
    rng = np.random.default_rng([seed, 3])
    centers = rng.normal(size=(IS_CLUSTERS, IS_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def draw(n: int) -> np.ndarray:
        c = rng.integers(0, IS_CLUSTERS, size=n)
        return (centers[c] + IS_NOISE * rng.normal(size=(n, IS_DIM)) / np.sqrt(IS_DIM)).astype(
            np.float32
        )

    corpus = draw(IS_VECTORS)
    vec_path = os.path.join(out_dir, "vectors.parquet")
    _write_parquet(_vec_table(np.arange(IS_VECTORS), corpus), vec_path)

    vocab = _words(rng, IS_VOCAB)
    p_doc = _zipf_p(IS_VOCAB, IS_ZIPF)
    p_query = _zipf_p(IS_VOCAB, IS_QUERY_ZIPF)

    def doc(n_tok: int) -> str:
        return " ".join(vocab[i] for i in rng.choice(IS_VOCAB, size=n_tok, p=p_doc))

    lens = np.clip(rng.lognormal(np.log(40), 0.4, size=IS_DOCS), 8, 200).astype(int)
    corpus_docs = {i: doc(int(n)) for i, n in enumerate(lens)}
    doc_path = os.path.join(out_dir, "docs.parquet")
    _write_parquet(
        pa.table(
            {
                "doc_id": pa.array(list(corpus_docs), pa.int64()),
                "text": pa.array(list(corpus_docs.values()), pa.string()),
            }
        ),
        doc_path,
    )

    vec_batches, doc_batches, batch_vecs, batch_dup_src, batch_docs = [], [], [], [], []
    next_vec, next_doc = IS_VECTORS, IS_DOCS
    for b in range(IS_BATCHES):
        vecs = draw(IS_BATCH)
        n_dup = int(IS_BATCH * IS_DUP_SHARE)
        src = rng.integers(0, IS_VECTORS, size=n_dup)
        vecs[:n_dup] = corpus[src]  # re-ingested copies: the gate must reject them
        ids = list(range(next_vec, next_vec + IS_BATCH))
        next_vec += IS_BATCH
        path = os.path.join(out_dir, f"vec_batch_{b:03d}.parquet")
        _write_parquet(_vec_table(ids, vecs), path)
        vec_batches.append(path)
        batch_vecs.append(dict(zip(ids, vecs)))
        batch_dup_src.append({ids[j]: int(src[j]) for j in range(n_dup)})

        texts = {next_doc + j: doc(int(np.clip(rng.lognormal(np.log(40), 0.4), 8, 200))) for j in range(IS_BATCH)}
        next_doc += IS_BATCH
        path = os.path.join(out_dir, f"doc_batch_{b:03d}.parquet")
        _write_parquet(
            pa.table(
                {
                    "doc_id": pa.array(list(texts), pa.int64()),
                    "text": pa.array(list(texts.values()), pa.string()),
                }
            ),
            path,
        )
        doc_batches.append(path)
        batch_docs.append(texts)

    qc = rng.integers(0, IS_CLUSTERS, size=IS_QUERIES)
    ivf_queries = [
        (centers[c] + IS_NOISE * rng.normal(size=IS_DIM) / np.sqrt(IS_DIM)).astype(np.float32)
        for c in qc
    ]
    bm25_queries = [
        [vocab[i] for i in rng.choice(IS_VOCAB, size=int(rng.integers(1, 4)), p=p_query, replace=False)]
        for _ in range(IS_QUERIES)
    ]
    n_del = IS_DELETES * IS_DELETE_IDS
    vec_del = rng.choice(IS_VECTORS, size=n_del, replace=False).reshape(IS_DELETES, -1)
    doc_del = rng.choice(IS_DOCS, size=n_del, replace=False).reshape(IS_DELETES, -1)

    files = [vec_path, doc_path, *vec_batches, *doc_batches]
    input_bytes = sum(os.path.getsize(f) for f in files)
    return ServingInputs(
        vectors=vec_path,
        docs=doc_path,
        vec_batches=vec_batches,
        doc_batches=doc_batches,
        input_bytes=input_bytes,
        corpus_vecs=dict(enumerate(corpus)),
        corpus_docs=corpus_docs,
        batch_vecs=batch_vecs,
        batch_dup_src=batch_dup_src,
        batch_docs=batch_docs,
        ivf_queries=ivf_queries,
        bm25_queries=bm25_queries,
        delete_vec_sets=[sorted(int(i) for i in ids) for ids in vec_del],
        delete_doc_sets=[sorted(int(i) for i in ids) for ids in doc_del],
        shape={
            "vectors": IS_VECTORS,
            "dim": IS_DIM,
            "vector_clusters": IS_CLUSTERS,
            "vector_noise": IS_NOISE,
            "docs": IS_DOCS,
            "vocab": IS_VOCAB,
            "doc_zipf_s": IS_ZIPF,
            "query_zipf_s": IS_QUERY_ZIPF,
            "ingest_batch_rows": IS_BATCH,
            "vector_batch_dup_share": IS_DUP_SHARE,
            "delete_ids_per_index": IS_DELETE_IDS,
            "input_bytes": input_bytes,
        },
    )
