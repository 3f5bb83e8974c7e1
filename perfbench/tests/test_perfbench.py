"""Tests of the benchmark itself: the tail rule, span self time, generator
determinism, and that every output check rejects a corrupted result.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os

import numpy as np
import pytest

import checks
import gen
import run
import workloads
from measure import Tracer, max_files_per_bucket, tail

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# -- the tail rule ------------------------------------------------------------


def test_tail_takes_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = tail(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(1 for x in xs if x > value) == 10


def test_tail_for_thirty_samples():
    xs = [float(i) for i in range(30, 0, -1)]  # order must not matter
    value, pct, n = tail(xs)
    assert value == 20.0 and n == 30
    assert pct == pytest.approx(100 * 20 / 30)
    assert sum(1 for x in xs if x > value) == 10


def test_tail_never_below_the_median():
    xs = [float(i) for i in range(1, 16)]  # 15 samples: rank 5 would be p33
    assert tail(xs) == (8.0, 50.0, 15)
    xs = [float(i) for i in range(1, 21)]  # 20 samples: rank 10 is p50 exactly
    assert tail(xs) == (10.0, 50.0, 20)


def test_tail_of_nothing_is_an_error():
    with pytest.raises(ValueError):
        tail([])


# -- spans ----------------------------------------------------------------------


def test_self_time_subtracts_children():
    t = Tracer(True)
    with t.span("op"):
        with t.span("child"):
            pass
        with t.span("child"):
            pass
    spans = {s.name: s for s in t.spans}
    op = spans["op"]
    kids = [s for s in t.spans if s.name == "child"]
    assert all(k.parent == op.sid for k in kids)
    self_op = t.self_times()["op"][0]
    assert self_op == pytest.approx((op.end - op.start) - sum(k.end - k.start for k in kids), abs=1e-9)


def test_disabled_tracer_records_nothing_but_times():
    t = Tracer(False)
    with t.span("x") as s:
        pass
    assert t.spans == [] and s.elapsed >= 0.0


def test_max_files_per_bucket_reads_bucket_suffix():
    files = {
        "part-00000-aaa_00003.c000.snappy.parquet",
        "part-00001-bbb_00003.c000.snappy.parquet",
        "part-00002-ccc_00007.c000.snappy.parquet",
    }
    assert max_files_per_bucket(files) == 2


# -- per-layer metric lists ----------------------------------------------------


def test_every_workload_lists_its_layer_metrics_in_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        listed = {m["name"] for m in json.load(fh)["per_layer"]}
    assert set(workloads.LAYER_METRICS) == set(workloads.WORKLOADS)
    for names in workloads.LAYER_METRICS.values():
        assert len(set(names)) == len(names) and set(names) <= listed


def test_check_layer_rejects_a_missing_or_unexpected_metric():
    run._check_layer({"a.s": 1.0}, ("a.s",), {"a.s", "b.s"})
    with pytest.raises(RuntimeError):
        run._check_layer({}, ("a.s",), {"a.s"})  # a misspelt span leaves it out
    with pytest.raises(RuntimeError):
        run._check_layer({"a.s": 1.0, "b.s": 2.0}, ("a.s",), {"a.s", "b.s"})
    with pytest.raises(RuntimeError):
        run._check_layer({"a.s": 1.0}, ("a.s",), {"b.s"})


def test_serving_cycle_reads_both_indexes_after_the_delete():
    cycle = workloads.SERVING_CYCLE
    after = cycle[cycle.index("delete") + 1 :]
    assert {"ivf_search", "bm25_search"} <= set(after)


# -- generator determinism ----------------------------------------------------


def _files(d):
    return sorted(f for f in os.listdir(d) if os.path.isfile(os.path.join(d, f)))


@pytest.mark.parametrize(
    "make",
    [
        lambda s, d: gen.maplejuice_inputs(s, d, lines=2_000),
        lambda s, d: gen.corpus_inputs(s, d, docs=200),
        gen.serving_inputs,
    ],
    ids=["maplejuice_jobs", "corpus_prep", "index_serving"],
)
def test_same_seed_same_bytes(tmp_path, make):
    a, b, c = (tmp_path / x for x in "abc")
    for d in (a, b, c):
        d.mkdir()
    make(7, str(a))
    make(7, str(b))
    make(8, str(c))
    names = _files(a)
    assert names and names == _files(b)
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert mismatch == [] and errors == []
    assert any(not filecmp.cmp(a / n, c / n, shallow=False) for n in names)


def test_planted_low_quality_docs_fail_the_rules(tmp_path):
    inp = gen.corpus_inputs(3, str(tmp_path), docs=300)
    import pyarrow.parquet as pq

    t = pq.read_table(inp.documents).to_pydict()
    text = dict(zip(t["doc_id"], t["text"]))
    assert not any(checks.passes_quality(text[i]) for i in inp.low_quality)
    assert all(checks.passes_quality(text[i]) for c in inp.clusters for i in c)


# -- output checks catch corruption -------------------------------------------


@pytest.fixture(scope="module")
def mj(tmp_path_factory):
    return gen.maplejuice_inputs(5, str(tmp_path_factory.mktemp("mj")), lines=3_000)


def _csv_rows(path):
    with open(path) as fh:
        return [line.rstrip("\n") for line in fh][1:]


def test_maplejuice_checks_accept_the_truth_and_reject_corruption(mj):
    assert checks.check_maple_keys(sorted(mj.totals), mj.totals) == []
    assert checks.check_maple_keys(sorted(mj.totals)[1:], mj.totals)

    rows = {k: f"{s},{c}" for k, (s, c) in mj.totals.items()}
    assert checks.check_totals(rows, mj.totals) == []
    bad = dict(rows)
    k = next(iter(bad))
    bad[k] = f"{mj.totals[k][0] + 1},{mj.totals[k][1]}"
    assert checks.check_totals(bad, mj.totals)
    assert checks.check_totals(dict(rows, extra="1,1"), mj.totals)

    lines = [line for line in _csv_rows(mj.events_csv) if mj.regex in line]
    assert checks.check_filter(lines, mj.regex, mj.filter_rows) == []
    assert checks.check_filter(lines[1:], mj.regex, mj.filter_rows)
    assert checks.check_filter(lines[1:] + ["1,k00001,5,cold001"], mj.regex, mj.filter_rows)

    assert checks.check_join(mj.join_rows, mj.join_amount, mj.join_rows, mj.join_amount) == []
    assert checks.check_join(mj.join_rows - 1, mj.join_amount, mj.join_rows, mj.join_amount)
    assert checks.check_join(mj.join_rows, mj.join_amount + 7, mj.join_rows, mj.join_amount)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    import pyarrow.parquet as pq

    inp = gen.corpus_inputs(11, str(tmp_path_factory.mktemp("cp")), docs=300)
    t = pq.read_table(inp.documents).to_pydict()
    return inp, {i: (x, lang) for i, x, lang in zip(t["doc_id"], t["text"], t["lang"])}


def _reference_manifest(inp, corpus):
    """The manifest a correct pipeline produces when LSH finds every
    planted pair: quality docs, one (min-id) member per planted cluster."""
    drop = {i for c in inp.clusters for i in c[1:]}
    kept = sorted(i for i, (x, _) in corpus.items() if checks.passes_quality(x) and i not in drop)
    rows, start = [], {}
    for i in kept:
        x, lang = corpus[i]
        split = checks.split_of(i)
        n = len(checks.tokens(x))
        s = start.get((lang, split), 0)
        cid, off = divmod(s, checks.CHUNK_TOKENS)
        rows.append({"doc_id": i, "lang": lang, "split": split, "n_tokens": n, "chunk_id": cid, "chunk_offset": off})
        start[(lang, split)] = s + n
    return rows


def test_manifest_check_accepts_the_truth(corpus):
    inp, docs = corpus
    assert checks.check_manifest(_reference_manifest(inp, docs), docs, inp.clusters, inp.exact) == []


def _corruptions(inp, rows):
    by_id = {r["doc_id"]: r for r in rows}
    first_exact = next(c for c, e in zip(inp.clusters, inp.exact) if e)
    lone = next(r for r in rows if not any(r["doc_id"] in c for c in inp.clusters))
    yield "duplicate row", rows + [dict(rows[0])]
    yield "two members of a formatting cluster", rows + [dict(by_id[first_exact[0]], doc_id=first_exact[1])]
    yield "planted cluster dropped entirely", [r for r in rows if r["doc_id"] not in set(first_exact)]
    yield "quality doc dropped without a duplicate", [r for r in rows if r is not lone]
    yield "chunk offset", [dict(r, chunk_offset=r["chunk_offset"] + 1) if r is rows[-1] else r for r in rows]
    yield "split", [dict(r, split="val" if r["split"] == "train" else "train") if r is rows[0] else r for r in rows]
    yield "token count", [dict(r, n_tokens=r["n_tokens"] + 1) if r is rows[0] else r for r in rows]
    yield "lang", [dict(r, lang="xx") if r is rows[0] else r for r in rows]


def test_manifest_check_rejects_each_corruption(corpus):
    inp, docs = corpus
    rows = _reference_manifest(inp, docs)
    for what, bad in _corruptions(inp, rows):
        assert checks.check_manifest(bad, docs, inp.clusters, inp.exact), what


def test_manifest_check_accepts_the_duckdb_oracle(tmp_path):
    """The invariants agree with the repository's DuckDB twin of the
    pipeline on a small corpus."""
    duckdb = pytest.importorskip("duckdb")
    from simple_map_reduce_spark.queries import ORACLES

    import pyarrow.parquet as pq

    inp = gen.corpus_inputs(13, str(tmp_path), docs=150)
    t = pq.read_table(inp.documents).to_pydict()
    docs = {i: (x, lang) for i, x, lang in zip(t["doc_id"], t["text"], t["lang"])}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{inp.documents}')")
    cur = con.execute(ORACLES["pretraining_manifest"])
    cols = [d[0] for d in cur.description]
    rows = [dict(zip(cols, r)) for r in cur.fetchall()]
    assert rows
    assert checks.check_manifest(rows, docs, inp.clusters, inp.exact) == []


def _ivf_truth(query, live, k):
    ids = sorted(live)
    scores = [checks.cosine6(query, live[i]) for i in ids]
    order = sorted(zip(scores, ids), key=lambda p: (-p[0], p[1]))[:k]
    return [{"neighbor_id": i, "score": s, "rank": r + 1} for r, (s, i) in enumerate(order)]


def test_ivf_check_accepts_the_truth_and_rejects_corruption():
    rng = np.random.default_rng(0)
    live = {i: rng.normal(size=8).astype(np.float32) for i in range(50)}
    q = rng.normal(size=8).astype(np.float32)
    rows = _ivf_truth(q, live, 5)
    assert checks.check_ivf(rows, q, live, 5) == []
    assert checks.check_ivf(rows[:-1], q, live, 5)
    assert checks.check_ivf([dict(rows[0], score=rows[0]["score"] + 1e-4)] + rows[1:], q, live, 5)
    dead = dict(live)
    del dead[rows[2]["neighbor_id"]]  # a tombstoned neighbor came back
    assert checks.check_ivf(rows, q, dead, 5)
    swapped = [dict(rows[0], rank=2), dict(rows[1], rank=1)] + rows[2:]
    assert checks.check_ivf(swapped, q, live, 5)


def test_bm25_recompute_matches_the_engine(tmp_path):
    """The plain-Python BM25 the serving check uses gives the engine's
    ``bm25_topk`` rows bit for bit on a seeded corpus."""
    pytest.importorskip("pyspark")
    from simple_map_reduce_spark import get_session
    from simple_map_reduce_spark.operators.retrieval import bm25_topk

    inp = gen.serving_inputs(17, str(tmp_path))
    docs = dict(list(inp.corpus_docs.items())[:300])
    queries = list(enumerate(inp.bm25_queries[:12]))
    spark = get_session()
    frame = spark.createDataFrame(sorted(docs.items()), "doc_id bigint, text string")
    got: dict[int, list[tuple]] = {}
    for r in bm25_topk(frame, queries, k=10).collect():
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"], r["rank"]))
    spark.catalog.clearCache()
    assert any(got.values())
    for qi, terms in queries:
        assert checks.check_bm25(got.get(qi, []), checks.bm25_topk(docs, terms, 10)) == [], terms


def test_bm25_check_requires_exact_equality():
    want = [(3, 1.25, 1), (9, 0.5, 2)]
    assert checks.check_bm25(list(reversed(want)), want) == []
    assert checks.check_bm25([(3, 1.25, 1), (9, 0.500001, 2)], want)
    assert checks.check_bm25(want[:1], want)
    assert checks.check_bm25([(3, 1.25, 1), (7, 0.5, 2)], want)
