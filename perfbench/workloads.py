"""The workloads. Each is one single-client closed loop in this process:
the next operation starts only after the previous one returned and its
result was consumed. Only the public engine surface is driven
(``get_session``, ``MapleJuice``, ``Catalog``,
``pipelines.pretraining_manifest``, ``IvfIndex``, ``Bm25Index``); the
traced corpus breakdown also calls the manifest's stage functions one by
one.

Every operation is timed from the client's side; its output is checked
after the clock stops, and a wrong result counts as a failed operation.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import checks
import gen
from measure import (
    SparkCounter,
    Tracer,
    dir_bytes,
    live_mb,
    max_files_per_bucket,
    median,
    peak_rss_mb,
    table_files,
    tail,
)

# the operation kinds of each workload; the traced corpus pass of
# maplejuice_jobs adds "manifest"
MJ_OPS = ("put", "maple", "juice", "sql_filter", "sql_join", "manifest")
IS_OPS = ("ivf_search", "bm25_search", "ivf_ingest", "bm25_ingest", "delete")


def _spark_metrics(ops) -> tuple[str, ...]:
    per_op = tuple(f"spark.{c}_per_op.{op}" for op in ops for c in ("jobs", "stages", "tasks"))
    return ("spark.failed_tasks", *per_op)


# the per-layer metrics each workload measures in a traced run. A run
# must produce exactly these; the other per-layer metrics of
# BENCHMARK.json belong to layers the workload does not use and read 0.
LAYER_METRICS = {
    "maplejuice_jobs": (
        "session.start_s",
        "catalog.put_s",
        "catalog.calls",
        "catalog.files_written",
        "catalog.bytes_per_input_byte",
        "engine.put_s",
        "engine.maple_s",
        "engine.juice_s",
        "engine.sql_filter_s",
        "engine.sql_join_s",
        "maple_juice.udf_s",
        "maple_juice.udf_share",
        "pipelines.quality_s",
        "pipelines.kept_frac",
        "dedup.minhash_pairs_s",
        "dedup.pairs",
        "dedup.planted_pair_recall",
        "graph.cc_s",
        "graph.components",
        "packing.chunk_assignment_s",
        "pipelines.manifest_s",
        *_spark_metrics(MJ_OPS),
    ),
    "index_serving": (
        "session.start_s",
        "catalog.append_s",
        "catalog.max_files_per_bucket",
        "catalog.calls",
        "catalog.files_written",
        "catalog.bytes_per_input_byte",
        "similarity.build_s",
        "retrieval.build_s",
        "similarity.search_s",
        "retrieval.search_s",
        "similarity.ingest_s",
        "retrieval.ingest_s",
        "similarity.admitted_frac",
        "tombstones.delete_s",
        *_spark_metrics(IS_OPS),
    ),
}

IVF_K = 10
BM25_K = 10
IVF_TAU = 0.99  # the semantic admission gate of IvfIndex.ingest
# one index_serving request cycle, 2 reads : 1 write: reads alternate
# between the indexes; each cycle ingests one batch per index and
# tombstones one id set. The last read pair follows the delete, so every
# run times reads with tombstones outstanding (BM25's exact degraded
# path, IVF's live-id filter) and checks them against the live corpus.
SERVING_CYCLE = (
    "ivf_search",
    "bm25_search",
    "ivf_ingest",
    "ivf_search",
    "bm25_search",
    "bm25_ingest",
    "delete",
    "ivf_search",
    "bm25_search",
)
READS = ("sql_filter", "sql_join", "ivf_search", "bm25_search")  # the rest write


@dataclass
class Op:
    kind: str
    latency: float
    rows: int
    ok: bool


@dataclass
class Run:
    """One workload run: the session, the tracer, the op log."""

    seed: int
    seconds: float
    traced: bool
    work: str  # scratch directory of this run (inputs, warehouse)
    cores: int
    tracer: Tracer = field(init=False)
    ops: list[Op] = field(default_factory=list)
    warmup_ops: list[Op] = field(default_factory=list)
    problems: list[str] = field(default_factory=list)
    side_checks: list[bool] = field(default_factory=list)  # checked work outside the op log
    layer: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    counts: dict[str, list] = field(default_factory=dict)
    setup_s: float = 0.0
    spark = None
    counter: SparkCounter | None = None
    jvm_pid: int | None = None

    def __post_init__(self):
        self.tracer = Tracer(self.traced)
        self.warehouse = os.path.join(self.work, "warehouse")

    # -- session ----------------------------------------------------------
    def start_session(self) -> None:
        from simple_map_reduce_spark import get_session

        with self.tracer.span("session.start"):
            self.spark = get_session()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        if self.traced:
            self.counter = SparkCounter(self.spark.sparkContext)

    # -- one operation ----------------------------------------------------
    def op(self, kind: str, rows: int, call, check=None):
        """Run ``call`` as one timed operation; then, untimed, read its
        scheduler counts (traced) and run ``check(result)``."""
        n = len(self.warmup_ops) + len(self.ops)
        self.tracer.op = n
        group = self.counter.start(kind) if self.counter else None
        result, error = None, None
        with self.tracer.span(f"op.{kind}") as s:
            try:
                result = call()
            except Exception as e:  # a failed request counts; the loop goes on
                error = f"{type(e).__name__}: {e}"
        self.tracer.op = None
        if group is not None:
            self.counts.setdefault(kind, []).append(self.counter.finish(group))
        problems = [error] if error else (check(result) if check else [])
        self.problems.extend(f"{kind} #{n}: {p}" for p in problems)
        self.ops.append(Op(kind, s.elapsed, rows, not problems))
        return result if not problems else None

    def measure_memory(self) -> None:
        self.info["memory"] = dict(live_mb(self.spark), peak_rss_mb=peak_rss_mb(self.jvm_pid))

    def busy(self) -> float:
        return sum(o.latency for o in self.ops)

    def outcomes(self) -> list[bool]:
        """Correct or not, for every checked operation of the run."""
        return [o.ok for o in self.warmup_ops + self.ops] + self.side_checks

    # -- results ----------------------------------------------------------
    def end_to_end(self) -> dict:
        busy = self.busy()
        reads = [o.latency for o in self.ops if o.kind in READS]
        writes = [o.latency for o in self.ops if o.kind not in READS]
        t_val, t_pct, t_n = tail(reads)
        self.info["read_tail"] = {"percentile": round(t_pct, 2), "n": t_n}
        kinds = dict.fromkeys(o.kind for o in self.ops)
        self.info["latency_by_kind"] = {
            k: {"p50_s": median(o.latency for o in self.ops if o.kind == k), "n": sum(o.kind == k for o in self.ops)}
            for k in kinds
        }
        return {
            "setup_s": self.setup_s,
            "rows_per_s": sum(o.rows for o in self.ops) / busy,
            "ops_per_s": len(self.ops) / busy,
            "read_p50_s": median(reads),
            "read_tail_s": t_val,
            "write_p50_s": median(writes),
            "stored_bytes_per_input_byte": self.info["stored_bytes_per_input_byte"],
            "live_mb": self.info["memory"]["live_mb"],
            "ok_ops_frac": self.outcomes().count(True) / len(self.outcomes()),
        }

    def span_median(self, name: str) -> float:
        """Median self time of the spans named ``name``; a name no span
        carries is an error, not a 0."""
        return median(self.tracer.self_times()[name])

    def spark_layer(self) -> dict[str, float]:
        """Scheduler counts of each operation kind the run issued."""
        out = {}
        failed = 0
        for kind, cs in self.counts.items():
            out[f"spark.jobs_per_op.{kind}"] = median(c.jobs for c in cs)
            out[f"spark.stages_per_op.{kind}"] = median(c.stages for c in cs)
            out[f"spark.tasks_per_op.{kind}"] = median(c.tasks for c in cs)
            failed += sum(c.failed_tasks for c in cs)
        out["spark.failed_tasks"] = failed
        return out

    def observe_writes(self, before: dict[str, set[str]]) -> tuple[int, int]:
        """(tables whose data files changed, data files added) since
        ``before`` — the catalog's write footprint seen from outside."""
        after = table_files(self.warehouse)
        changed = sum(1 for t, fs in after.items() if fs != before.get(t))
        added = sum(len(fs - before.get(t, set())) for t, fs in after.items())
        return changed, added


def _timed_loop(run: Run, cycle, warmup=()) -> None:
    """Run the ``warmup`` steps, checked but left out of the metrics, then
    whole cycles of ``cycle`` (callables issuing one op each) until the
    client has been busy for ``run.seconds``, so every operation kind of
    the workload is measured in every run."""
    t0 = time.perf_counter()
    for step in warmup:
        step()
    run.warmup_ops, run.ops = run.ops, []
    t1 = time.perf_counter()
    while run.busy() < run.seconds:
        for step in cycle:
            step()
    run.info["phases_s"] = {"setup": run.setup_s, "warmup": t1 - t0, "timed": time.perf_counter() - t1}


# -- maplejuice_jobs ----------------------------------------------------------


def _mapreduce_fns(acc):
    """The map and reduce callables, built in a closure so they pickle by
    value to the Python workers. With ``acc`` (a Spark accumulator) each
    adds the seconds spent in its own body."""

    def mapper(lines):
        buf = list(lines)  # upstream Arrow decoding is not the UDF's time
        t0 = time.perf_counter()
        out = []
        for line in buf:
            parts = line.split(",")
            if parts[0] != "id":  # the CSV header line
                out.append((parts[1], parts[2]))
        if acc is not None:
            acc.add(time.perf_counter() - t0)
        return out

    def reducer(key, values):
        t0 = time.perf_counter()
        out = [(key, f"{sum(int(v) for v in values)},{len(values)}")]
        if acc is not None:
            acc.add(time.perf_counter() - t0)
        return out

    return mapper, reducer


def maplejuice_jobs(run: Run) -> None:
    """put -> maple -> juice, then the sql filter and join twice, over a
    seeded CSV, one cycle after another (3 writes : 4 reads). Set-up
    loads the sql statements' two tables."""
    from simple_map_reduce_spark import MapleJuice

    inp = gen.maplejuice_inputs(run.seed, run.work)
    run.info["shape"] = inp.shape
    t0 = time.perf_counter()
    run.start_session()
    mj = MapleJuice(run.spark, run.warehouse)
    mj.put(inp.dims_csv, "dims", fmt="csv")
    mj.put(inp.events_csv, "events", fmt="csv")
    run.setup_s = time.perf_counter() - t0

    acc = run.spark.sparkContext.accumulator(0.0) if run.traced else None
    mapper, reducer = _mapreduce_fns(acc)
    tasks = run.cores
    footprint: list[tuple[int, int]] = []
    udf: list[float] = []

    def table(name: str):
        return pq.read_table(os.path.join(run.warehouse, name))

    def step(kind, call, check):
        before = table_files(run.warehouse) if run.traced else None
        run.op(kind, inp.lines, call, check)
        if before is not None:
            footprint.append(run.observe_writes(before))

    def put():
        def call():
            with run.tracer.span("engine.put"):
                mj.put(inp.events_csv, "lines")

        def check(_):
            n = table("lines").num_rows
            return [] if n == inp.lines + 1 else [f"put stored {n} lines, want {inp.lines + 1}"]

        step("put", call, check)

    def maple():
        def call():
            with run.tracer.span("engine.maple"):
                return mj.maple(mapper, tasks, "kv", "lines")

        step("maple", call, lambda keys: checks.check_maple_keys(keys, inp.totals))

    def juice():
        def call():
            with run.tracer.span("engine.juice"):
                mj.juice(reducer, tasks, "kv", "totals")

        def check(_):
            t = table("totals").to_pydict()
            return checks.check_totals(dict(zip(t["key"], t["value"])), inp.totals)

        step("juice", call, check)
        if acc is not None:
            udf.append(acc.value)
            acc.value = 0.0

    def sql_filter():
        def call():
            with run.tracer.span("engine.sql_filter"):
                mj.sql(f"SELECT ALL FROM events WHERE {inp.regex}")

        def check(_):
            return checks.check_filter(table("events_filter").column(0).to_pylist(), inp.regex, inp.filter_rows)

        step("sql_filter", call, check)

    def sql_join():
        def call():
            with run.tracer.span("engine.sql_join"):
                mj.sql("SELECT ALL FROM events dims WHERE events.key = dims.key")

        def check(_):
            t = table("events_dims_join")
            amount = sum(int(a) for a in t.column("amount").to_pylist())
            return checks.check_join(t.num_rows, amount, inp.join_rows, inp.join_amount)

        step("sql_join", call, check)

    _timed_loop(run, [put, maple, juice, sql_filter, sql_join, sql_filter, sql_join])
    run.measure_memory()
    run.info["stored_bytes_per_input_byte"] = dir_bytes(run.warehouse) / inp.input_bytes

    if run.traced:
        from simple_map_reduce_spark import Catalog

        cat = Catalog(run.spark, run.warehouse)
        for _ in range(2):
            with run.tracer.span("catalog.put"):
                cat.put(inp.events_csv, "catalog_put_probe")
        spans = run.tracer.self_times()
        maple_juice = [a + b for a, b in zip(spans["engine.maple"], spans["engine.juice"])]
        run.layer.update(
            {
                "catalog.put_s": run.span_median("catalog.put"),
                "catalog.calls": median(c for c, _ in footprint),
                "catalog.files_written": median(f for _, f in footprint),
                "catalog.bytes_per_input_byte": run.info["stored_bytes_per_input_byte"],
                "engine.put_s": run.span_median("engine.put"),
                "engine.maple_s": run.span_median("engine.maple"),
                "engine.juice_s": run.span_median("engine.juice"),
                "engine.sql_filter_s": run.span_median("engine.sql_filter"),
                "engine.sql_join_s": run.span_median("engine.sql_join"),
                "maple_juice.udf_s": median(udf),
                "maple_juice.udf_share": median(u / t for u, t in zip(udf, maple_juice)),
            }
        )
        _corpus_pass(run)


# -- corpus pass (traced maplejuice_jobs) --------------------------------------


def _manifest(run: Run, out_dir: str):
    """Seeded corpus inputs plus the manifest request on them and its
    output check."""
    from simple_map_reduce_spark.pipelines import pretraining_manifest

    inp = gen.corpus_inputs(run.seed, out_dir)
    table = pq.read_table(inp.documents).to_pydict()
    corpus = {i: (t, lang) for i, t, lang in zip(table["doc_id"], table["text"], table["lang"])}

    def call():
        with run.tracer.span("pipelines.manifest"):
            docs = run.spark.read.parquet(inp.documents)
            return [r.asDict() for r in pretraining_manifest(docs, checks.SPLITS).collect()]

    def check(rows):
        return checks.check_manifest(rows, corpus, inp.clusters, inp.exact)

    return inp, call, check


def _corpus_pass(run: Run) -> None:
    """Traced ``maplejuice_jobs`` only: one checked manifest request
    outside the op log, then the stage breakdown. This keeps the corpus
    pipeline's layers measured without a ``corpus_prep`` workload, whose
    cold manifest alone costs about a whole run (see README.md)."""
    d = os.path.join(run.work, "corpus")
    os.makedirs(d)
    inp, call, check = _manifest(run, d)
    group = run.counter.start("manifest")
    rows = call()
    run.counts.setdefault("manifest", []).append(run.counter.finish(group))
    problems = check(rows)
    run.side_checks.append(not problems)
    run.problems.extend(f"corpus pass: {p}" for p in problems)
    run.spark.catalog.clearCache()
    _corpus_breakdown(run, inp, rows)


def _corpus_breakdown(run: Run, inp: gen.CorpusInputs, manifest_rows: list[dict]) -> None:
    """Traced only: the stages of ``pretraining_manifest`` called one at a
    time, in its order and on its frames (the narrow persisted ``meta``
    frame of id, lang and token count feeds the components, the survivor
    join and packing; only the pair derivation reads the text), each
    materialized inside its own span. The copy's chunk rows must equal
    the manifest's, so a copy that no longer follows the pipeline fails
    the run instead of timing something else."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from simple_map_reduce_spark.functions.text import token_count
    from simple_map_reduce_spark.operators.dedup import minhash_dup_pairs
    from simple_map_reduce_spark.operators.graph import connected_components
    from simple_map_reduce_spark.operators.packing import chunk_assignment_sharded
    from simple_map_reduce_spark.operators.sampling import split_assign
    from simple_map_reduce_spark.pipelines import quality_kept_docs

    docs = run.spark.read.parquet(inp.documents)
    with run.tracer.span("pipelines.quality"):
        kept = quality_kept_docs(docs)
        meta = kept.select("doc_id", "lang", token_count("text").alias("n_tokens"))
        meta = meta.persist(StorageLevel.MEMORY_AND_DISK)
        n_kept = meta.count()
    with run.tracer.span("dedup.minhash_pairs"):
        pairs = minhash_dup_pairs(kept, "doc_id", "text", threshold=checks.NEARDUP_THRESHOLD).cache()
        found = {(r["id_a"], r["id_b"]) for r in pairs.select("id_a", "id_b").collect()}
    with run.tracer.span("graph.cc"):
        cc = connected_components(
            meta.select(F.col("doc_id").alias("id")),
            pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        ).cache()
        n_components = cc.select("component").distinct().count()
    survivors = meta.join(cc.filter(F.col("id") == F.col("component")).select(F.col("id").alias("doc_id")), "doc_id")
    sized = split_assign(survivors, "doc_id", checks.SPLITS).select("doc_id", "lang", "split", "n_tokens").cache()
    sized.count()
    with run.tracer.span("packing.chunk_assignment"):
        chunks = [r.asDict() for r in chunk_assignment_sharded(sized, group_col=("lang", "split")).collect()]
    run.spark.catalog.clearCache()

    def by_id(rows):
        return sorted(rows, key=lambda r: r["doc_id"])

    same = by_id(chunks) == by_id(manifest_rows)
    run.side_checks.append(same)
    if not same:
        run.problems.append(
            f"corpus breakdown: {len(chunks)} chunk rows differ from the manifest's {len(manifest_rows)} rows"
        )
    planted = {(a, b) for c in inp.clusters for i, a in enumerate(c) for b in c[i + 1 :]}
    run.layer.update(
        {
            "pipelines.quality_s": run.span_median("pipelines.quality"),
            "pipelines.kept_frac": n_kept / inp.docs,
            "dedup.minhash_pairs_s": run.span_median("dedup.minhash_pairs"),
            "dedup.pairs": len(found),
            "dedup.planted_pair_recall": len(planted & found) / len(planted),
            "graph.cc_s": run.span_median("graph.cc"),
            "graph.components": n_components,
            "packing.chunk_assignment_s": run.span_median("packing.chunk_assignment"),
            "pipelines.manifest_s": run.span_median("pipelines.manifest"),
        }
    )


# -- index_serving ------------------------------------------------------------


def index_serving(run: Run) -> None:
    """Single-query reads on a dense and a sparse index, interleaved with
    an ingest batch on each index and one tombstone delete per request
    cycle (``SERVING_CYCLE``)."""
    from simple_map_reduce_spark import Bm25Index, Catalog, IvfIndex

    inp = gen.serving_inputs(run.seed, run.work)
    n_reads = sum(1 for k in SERVING_CYCLE if k.endswith("_search"))
    run.info["shape"] = dict(inp.shape, read_write_mix=f"{n_reads}:{len(SERVING_CYCLE) - n_reads}")
    t0 = time.perf_counter()
    run.start_session()
    spark = run.spark
    cat = Catalog(spark, run.warehouse)
    ivf = IvfIndex(cat, "vec")
    bm = Bm25Index(cat, "docs")
    with run.tracer.span("similarity.build"):
        ivf.build(spark.read.parquet(inp.vectors))
    with run.tracer.span("retrieval.build"):
        bm.build(spark.read.parquet(inp.docs))
    run.setup_s = time.perf_counter() - t0

    live_vecs = dict(inp.corpus_vecs)
    live_docs = dict(inp.corpus_docs)
    admitted: list[tuple[int, int]] = []
    bucket_fanin: list[int] = []
    footprint: list[tuple[int, int]] = []
    n = {"query": 0, "ivf_ingest": 0, "bm25_ingest": 0, "delete": 0}

    def write(kind, rows, call, check):
        before = table_files(run.warehouse) if run.traced else None
        run.op(kind, rows, call, check)
        if before is not None:
            footprint.append(run.observe_writes(before))
            bucket_fanin.append(max(max_files_per_bucket(fs) for fs in table_files(run.warehouse).values()))

    def ivf_search():
        qi = n["query"] % len(inp.ivf_queries)
        n["query"] += 1
        qvec = inp.ivf_queries[qi]

        def call():
            with run.tracer.span("similarity.search"):
                q = spark.createDataFrame([(-1 - qi, qvec.tolist())], "vec_id bigint, embedding array<float>")
                return [r.asDict() for r in ivf.search(q, k=IVF_K).collect()]

        snapshot = dict(live_vecs)
        run.op("ivf_search", 1, call, lambda rows: checks.check_ivf(rows, qvec, snapshot, IVF_K))

    def bm25_search():
        qi = n["query"] % len(inp.bm25_queries)
        n["query"] += 1
        terms = inp.bm25_queries[qi]

        def call():
            with run.tracer.span("retrieval.search"):
                return [(r["doc_id"], r["score"], r["rank"]) for r in bm.search([(qi, terms)], k=BM25_K).collect()]

        snapshot = dict(live_docs)
        run.op("bm25_search", 1, call, lambda rows: checks.check_bm25(rows, checks.bm25_topk(snapshot, terms, BM25_K)))

    def ivf_ingest():
        b = n["ivf_ingest"] % len(inp.vec_batches)
        n["ivf_ingest"] += 1
        batch = inp.batch_vecs[b]

        def call():
            with run.tracer.span("similarity.ingest"):
                report = ivf.ingest(spark.read.parquet(inp.vec_batches[b]), IVF_TAU)
                return {r["vec_id"] for r in report.select("vec_id").collect()}

        def check(rejected):
            if rejected - set(batch):
                return ["ivf ingest rejected ids outside the batch"]
            missed = [i for i, src in inp.batch_dup_src[b].items() if src in live_vecs and i not in rejected]
            if missed:
                return [f"ivf ingest admitted {len(missed)} copies of live vectors"]
            live_vecs.update((i, v) for i, v in batch.items() if i not in rejected)
            admitted.append((len(batch) - len(rejected), len(batch)))
            return []

        write("ivf_ingest", len(batch), call, check)

    def bm25_ingest():
        b = n["bm25_ingest"] % len(inp.doc_batches)
        n["bm25_ingest"] += 1
        batch = inp.batch_docs[b]

        def call():
            with run.tracer.span("retrieval.ingest"):
                return bm.ingest(spark.read.parquet(inp.doc_batches[b]))

        def check(n_new):
            if n_new != len(batch):
                return [f"bm25 ingest admitted {n_new} of {len(batch)} fresh docs"]
            live_docs.update(batch)
            return []

        write("bm25_ingest", len(batch), call, check)

    def delete():
        d = n["delete"] % len(inp.delete_vec_sets)
        n["delete"] += 1
        vec_ids, doc_ids = inp.delete_vec_sets[d], inp.delete_doc_sets[d]

        def call():
            with run.tracer.span("tombstones.delete"):
                n_vec = ivf.delete(vec_ids)
            with run.tracer.span("tombstones.delete"):
                n_doc = bm.delete(doc_ids)
            return n_vec, n_doc

        def check(counts):
            if counts != (len(vec_ids), len(doc_ids)):
                return [f"delete tombstoned {counts} ids, want {(len(vec_ids), len(doc_ids))}"]
            for i in vec_ids:
                live_vecs.pop(i, None)
            for i in doc_ids:
                live_docs.pop(i, None)
            return []

        write("delete", len(vec_ids) + len(doc_ids), call, check)

    steps = {
        "ivf_search": ivf_search,
        "bm25_search": bm25_search,
        "ivf_ingest": ivf_ingest,
        "bm25_ingest": bm25_ingest,
        "delete": delete,
    }
    # one read on each index first: a first search compiles its plans
    # (5-8 s against 2-3 s warm, and the cold figure swings by a third
    # between runs); the writes stay first calls, as a warm-up of their
    # own would cost as much as the measured cycle
    _timed_loop(run, [steps[k] for k in SERVING_CYCLE], warmup=[ivf_search, bm25_search])
    run.measure_memory()
    run.info["stored_bytes_per_input_byte"] = dir_bytes(run.warehouse) / inp.input_bytes

    if run.traced:
        cat.put_bucketed(spark.read.parquet(inp.doc_batches[0]), "append_probe", "doc_id")
        for b in inp.doc_batches[1:4]:
            with run.tracer.span("catalog.append"):
                cat.append_bucketed(spark.read.parquet(b), "append_probe", "doc_id")
        run.layer.update(
            {
                "catalog.append_s": run.span_median("catalog.append"),
                "catalog.max_files_per_bucket": max(bucket_fanin),
                "catalog.calls": median(c for c, _ in footprint),
                "catalog.files_written": median(f for _, f in footprint),
                "catalog.bytes_per_input_byte": run.info["stored_bytes_per_input_byte"],
                "similarity.build_s": run.span_median("similarity.build"),
                "retrieval.build_s": run.span_median("retrieval.build"),
                "similarity.search_s": run.span_median("similarity.search"),
                "retrieval.search_s": run.span_median("retrieval.search"),
                "similarity.ingest_s": run.span_median("similarity.ingest"),
                "retrieval.ingest_s": run.span_median("retrieval.ingest"),
                "similarity.admitted_frac": sum(a for a, _ in admitted) / max(1, sum(t for _, t in admitted)),
                "tombstones.delete_s": run.span_median("tombstones.delete"),
            }
        )
        run.info["max_files_per_bucket_after_each_write"] = bucket_fanin


WORKLOADS = {
    "maplejuice_jobs": maplejuice_jobs,
    "index_serving": index_serving,
}
