"""The benchmark's workloads. Each drives the public API the way a
user does: one client thread, closed loop (the next request is sent
only after the previous one returned), every answer checked against
an independent reference outside the timed region."""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import gen
import reference as ref
from stats import median, op_summary, rollup

K = 10
DIM = 64
BATCH_QUERIES = 32
SETUP_REPEATS = 3

# vector_serving: a float32 store for reads and an int8 store for
# writes beside reads. 5,000 vectors keeps three ingests and the three
# index fits inside the benchmark's run budget (4 + 22 x workloads runs
# in 3,420 s).
SERVE_VECTORS = 5_000
SERVE_CLUSTERS = 16
INSERT_BATCH = 64
# curation_batch: half the sf0.1 fixture's 5,000 documents and 2,000
# embeddings (pipeline walls are mostly fixed cost at this size; the
# benchmark's run budget rules out more)
CORPUS_DOCS = 2_500
CORPUS_EMBEDDINGS = 1_000
PIPELINES = (
    "pipeline_pretraining_corpus",
    "pipeline_curation_full",
    "pipeline_semantic_corpus",
)


class Run:
    """One benchmark run: the session, the op log and the failures."""

    def __init__(self, spark, seed: int, seconds: float, work: str, tracer=None):
        self.spark = spark
        self.rng = np.random.default_rng(seed)
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.ops: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.session_start_s = float("nan")
        self.ingest_s = float("nan")  # median of the ingests / registrations
        self.detail: dict = {}
        self.store_dir: str | None = None  # set by workloads that serve a store
        self.store_ref: StoreRef | None = None
        self.store_files: list[int] = []  # int8 store files at each traced int8 read
        self.sub_groups: dict[str, list[str]] = {}  # op label -> its extra job groups
        self._seq = 0
        self._mark = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Record the wall time since the previous mark under `phase`."""
        now = time.perf_counter()
        self.detail.setdefault("phase_s", {})[phase] = now - self._mark
        self._mark = now

    def op(self, op_type: str, fn, check=None, phase: str = "timed",
           traced: bool = False):
        """Time fn() (which must consume its result), then check the
        result outside the timed region. Returns the result, or None
        when the op raised or its answer was wrong."""
        label = self._label(op_type)
        tracer = self.tracer if traced or phase == "cold" else None
        if tracer is not None:
            tracer.active, tracer.op = True, label
            self.spark.sparkContext.setJobGroup(label, label)
            if self.store_dir is not None and op_type.endswith("_int8"):
                self.store_files.append(_parquet_files(self.store_dir))
        self.attempted += 1
        problem = None
        out = None
        e0 = time.time() * 1e3
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            problem = f"{type(exc).__name__}: {str(exc)[:200]}"
        wall_ms = (time.perf_counter() - t0) * 1e3
        e1 = time.time() * 1e3
        if tracer is not None:
            tracer.active, tracer.op = False, None
            self.spark.sparkContext._jsc.clearJobGroup()
        if problem is None and check is not None:
            problem = check(out)
        rec = {"type": op_type, "label": label, "phase": phase, "wall_ms": wall_ms,
               "e0": e0, "e1": e1, "traced": tracer is not None, "ok": problem is None}
        if tracer is not None and problem is None and isinstance(out, tuple):
            from tracing import catalyst_ms

            rec["catalyst_ms"] = catalyst_ms(out[0])
        self.ops.append(rec)
        if problem is not None:
            self.failed += 1
            self.problems.append(f"{label}: {problem}")
            return None
        return out

    def _label(self, op_type: str) -> str:
        self._seq += 1
        return f"{op_type}#{self._seq}"

    def job_group(self, name: str) -> None:
        """Inside a traced op, file the following Spark jobs under their
        own group (an op made of two verbs, e.g. snapshot then restore)."""
        if self.tracer is not None and self.tracer.active:
            label = self._label(name)
            self.sub_groups.setdefault(self.tracer.op, []).append(label)
            self.spark.sparkContext.setJobGroup(label, label)

    def timed_loop(self, cycle, min_cycles: int = 1) -> None:
        """Run whole cycles of ops back to back, starting a new one while
        fewer than `seconds` have passed or fewer than `min_cycles` ran,
        so every op type is sampled equally often. A traced run runs at
        least three cycles, untraced / traced / untraced, so the tracing
        overhead is measured inside one session with untraced cycles on
        both sides of a traced one (the session is still warming up)."""
        if self.tracer is not None:
            min_cycles = max(min_cycles, 3)
        t_end = time.perf_counter() + self.seconds
        i = 0
        while time.perf_counter() < t_end or i < min_cycles:
            traced = self.tracer is not None and i % 2 == 1
            for op_type, fn, check in cycle():
                self.op(op_type, fn, check, traced=traced)
            i += 1

    def samples(self, phase: str = "timed", traced: bool = False) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for r in self.ops:
            if r["phase"] == phase and r["ok"] and r["traced"] == traced:
                out.setdefault(r["type"], []).append(r["wall_ms"])
        return out

    def cold_s(self) -> float:
        cold = {r["type"]: r["wall_ms"] for r in self.ops if r["phase"] == "cold"}
        self.detail["cold_ms"] = cold
        return sum(cold.values()) / 1e3

    def setup_s(self) -> float:
        """Time until every verb answers warm: session start, the median
        ingest (or corpus registration) and the first call of each op
        type, which fits the ANN indexes. The first calls are one sample
        each, so they ride in set-up rather than in a metric of their own."""
        parts = {"session_start_s": self.session_start_s, "ingest_s": self.ingest_s,
                 "cold_s": self.cold_s()}
        self.detail["setup_parts"] = parts
        return sum(parts.values())

    def end_to_end(self) -> dict:
        roll = rollup(self.samples())
        self.detail["latency"] = {
            "p50_ms": "geometric mean over op types of each type's median",
            "tail_ms": roll["tail"],
            "tail_percentile": roll["tail_percentile"],
            "tail_samples": roll["tail_samples"],
            "tail_beyond": roll["tail_beyond"],
        }
        return {
            "setup_s": (self.setup_s(), "s"),
            "p50_ms": (roll["p50"], "ms"),
        }

    def op_metrics(self) -> None:
        """Each op type's p50 and tail under its own name, with the
        tail's percentile and sample count, for the detail line."""
        self.detail["samples_ms"] = self.samples()
        for op_type, xs in self.samples().items():
            sm = op_summary(xs)
            self.detail[f"{op_type}_p50_ms"] = sm["p50"]
            self.detail[f"{op_type}_tail_ms"] = {
                "value": sm["tail"], "percentile": sm["tail_percentile"],
                "samples": sm["n"], "beyond": sm["tail_beyond"],
            }


def _parquet_files(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))


def _parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


class StoreRef:
    """The reference copy of a store: what every id should read back
    as, kept independently of the engine."""

    def __init__(self, vectors: np.ndarray):
        self.vectors = vectors
        self.ids = np.arange(1, len(vectors) + 1, dtype=np.int64)
        self.id_pos = {int(i): p for p, i in enumerate(self.ids)}

    def append(self, vectors: np.ndarray) -> None:
        start = len(self.vectors)
        self.vectors = np.concatenate([self.vectors, vectors])
        new = np.arange(start + 1, start + len(vectors) + 1, dtype=np.int64)
        self.ids = np.concatenate([self.ids, new])
        self.id_pos.update({int(i): start + p for p, i in enumerate(new)})

    def check_search(self, q, metric: str):
        def check(out):
            rows = [(r["id"], r["dist"]) for r in out[1]]
            return ref.check_topk(rows, ref.distances(self.vectors, q, metric),
                                  self.ids, self.id_pos, K)
        return check

    def check_get(self, vid: int):
        def check(row):
            if row is None or int(row["id"]) != vid:
                return f"get({vid}) returned {None if row is None else row['id']}"
            got = np.asarray(row["embedding"], dtype=np.float32)
            if not np.array_equal(got, self.vectors[self.id_pos[vid]]):
                return f"get({vid}) returned a different vector"
            return None
        return check

    def check_batch(self, queries, metric: str):
        def check(out):
            per_q: dict[int, list] = {}
            for r in sorted(out[1], key=lambda r: (r["query_id"], r["dist"], r["id"])):
                per_q.setdefault(int(r["query_id"]), []).append((r["id"], r["dist"]))
            for qi, q in enumerate(queries):
                problem = ref.check_topk(per_q.get(qi, []),
                                         ref.distances(self.vectors, q, metric),
                                         self.ids, self.id_pos, K)
                if problem:
                    return f"query {qi}: {problem}"
            return None
        return check


def _collect(df):
    return df, df.collect()


# --------------------------------------------------------------------------
# vector_serving: reads of a float store (exact scan, point lookup,
# batch search, cached ANN indexes) beside writes to an int8 store
# --------------------------------------------------------------------------

# One timed cycle: every op type once. An int8 read follows the
# insert that fills the store it reads.
VECTOR_CYCLE = (
    "search_exact_l2", "insert", "get", "ann_ivf", "get_int8", "search_exact_cos",
    "ann_pq", "search_exact_int8", "ann_lsh", "search_batch", "snapshot_restore",
)


def vector_serving(run: Run) -> None:
    from vfs_spark.engine import VFSEngine

    rng = run.rng
    centers = gen.make_centers(rng, SERVE_CLUSTERS, DIM)
    store, _ = gen.mixture(rng, SERVE_VECTORS, DIM, centers)
    fref = StoreRef(store)
    qref = StoreRef(np.empty((0, DIM), np.float32))
    queries = iter(gen.make_queries(rng, 4096, store, centers))
    run.mark("inputs")
    run.detail["inputs"] = {
        "float_store": f"{SERVE_VECTORS} x {DIM} float32, {SERVE_CLUSTERS}-cluster "
                       "Gaussian mixture in [-1, 1]",
        "queries": "half perturbed stored vectors, half fresh draws",
        "int8_store": f"starts empty, quantized, cosine; {INSERT_BATCH}-vector inserts "
                      "from the same mixture",
    }

    # set-up: the float store's ingest and the int8 store's init, on
    # fresh directories each time
    took = []
    for i in range(SETUP_REPEATS):
        feng = VFSEngine(run.spark, _fresh_dir(os.path.join(run.work, f"float_{i}")))
        qeng = VFSEngine(run.spark, _fresh_dir(os.path.join(run.work, f"int8_{i}")))
        t0 = time.perf_counter()
        feng.init(DIM, truncate_data=True)
        ids = feng.insert(store.tolist())
        qeng.init(DIM, truncate_data=True, quantize_storage=True)
        took.append(time.perf_counter() - t0)
        if ids != list(range(1, SERVE_VECTORS + 1)):
            raise RuntimeError("ingest assigned unexpected ids")
    run.ingest_s = median(took)
    run.mark("setup")
    run.store_dir = os.path.join(qeng.storage_dir, "vectors")
    recall: dict[str, list[float]] = {}

    def exact(metric):
        q = next(queries)
        return ("search_exact_" + ("l2" if metric == "euclidean" else "cos"),
                lambda: _collect(feng.search(q, top_k=K, distance_method=metric)),
                fref.check_search(q, metric))

    def get(eng, sref, op_type):
        vid = int(rng.integers(1, len(sref.ids) + 1))
        return op_type, lambda: eng.get(vid), sref.check_get(vid)

    def batch():
        qs = [next(queries) for _ in range(BATCH_QUERIES)]
        return ("search_batch", lambda: _collect(feng.search_batch(qs, top_k=K)),
                fref.check_batch(qs, "euclidean"))

    def ann(search_type, op_type):
        q = next(queries)
        true_ids = ref.topk_ids(ref.distances(store, q, "euclidean"), fref.ids, K)

        def check(out):
            recall.setdefault(op_type, []).append(
                ref.recall([r["id"] for r in out[1]], true_ids))
            return None
        return (op_type,
                lambda: _collect(feng.search(q, top_k=K, search_type=search_type)),
                check)

    def insert():
        vecs, _ = gen.mixture(rng, INSERT_BATCH, DIM, centers)
        first = len(qref.ids) + 1

        def check(ids):
            if ids != list(range(first, first + INSERT_BATCH)):
                return f"insert returned ids {ids[:2]}..., want from {first}"
            qref.append(ref.quantize_reference(vecs))
            return None
        return "insert", lambda: qeng.insert(vecs.tolist()), check

    def search_int8():
        v, _ = gen.mixture(rng, 1, DIM, centers)
        q = [float(x) for x in v[0]]
        return ("search_exact_int8",
                lambda: _collect(qeng.search(q, top_k=K, distance_method="cosine")),
                qref.check_search(q, "cosine"))

    def snapshot_restore():
        def fn():
            run.job_group("snapshot")
            qeng.snapshot("bench")
            run.job_group("restore")
            qeng.restore("bench")
            return True
        return "snapshot_restore", fn, None

    build = {
        "search_exact_l2": lambda: exact("euclidean"),
        "search_exact_cos": lambda: exact("cosine"),
        "get": lambda: get(feng, fref, "get"),
        "search_batch": batch,
        "ann_ivf": lambda: ann("ivf", "ann_ivf"),
        "ann_pq": lambda: ann("pq", "ann_pq"),
        "ann_lsh": lambda: ann("approx", "ann_lsh"),
        "insert": insert,
        "get_int8": lambda: get(qeng, qref, "get_int8"),
        "search_exact_int8": search_int8,
        "snapshot_restore": snapshot_restore,
    }

    def cycle():
        for op_type in VECTOR_CYCLE:  # built lazily: int8 reads follow their insert
            yield build[op_type]()

    # cold: the first call of each op type; an ANN type's first search
    # fits and caches its index
    for op_type, fn, check in cycle():
        run.op(op_type, fn, check, phase="cold")
    run.detail["index_build_s"] = sum(
        r["wall_ms"] for r in run.ops if r["phase"] == "cold" and r["type"].startswith("ann_")
    ) / 1e3
    recall.clear()
    run.mark("cold")
    # two cycles at least: one cycle is a 7-10 s window, short enough
    # for one slow spell of the host to move every op type in it
    run.timed_loop(cycle, min_cycles=2)
    run.mark("timed")

    run.op_metrics()
    s = run.samples()
    ann_lat = [x for t in ("ann_ivf", "ann_pq", "ann_lsh") for x in s.get(t, [])]
    if ann_lat:
        run.detail["search_ann_p50_ms"] = median(ann_lat)
    if s.get("search_batch"):
        run.detail["search_batch_qps"] = BATCH_QUERIES / (median(s["search_batch"]) / 1e3)
    run.detail["ann_recall_at_10"] = {t: float(np.mean(v)) for t, v in recall.items()}
    run.detail["store_bytes"] = _parquet_bytes(run.store_dir)
    run.detail["store_bytes_per_user_byte"] = (
        run.detail["store_bytes"] / (len(qref.ids) * DIM * 4))
    run.detail["int8_store_vectors"] = len(qref.ids)
    run.store_ref = fref


# --------------------------------------------------------------------------
# curation_batch: the composed curation pipelines
# --------------------------------------------------------------------------

def curation_batch(run: Run) -> None:
    import duckdb

    from vfs_spark.queries import ORACLES, QUERIES

    rng = run.rng
    sf_dir = os.path.join(run.work, "corpus")
    docs = gen.make_documents(rng, CORPUS_DOCS)
    emb = gen.make_embeddings(rng, CORPUS_EMBEDDINGS)
    gen.write_corpus(sf_dir, docs, emb)
    run.detail["inputs"] = {
        "documents": f"{CORPUS_DOCS} docs, fixture vocabulary and language mix, "
                     f"eval set doc_id < {gen.N_EVAL_DOCS}, exact dup "
                     f"{gen.DOC_EXACT_DUP}, near dup {gen.DOC_NEAR_DUP}",
        "embeddings": f"{CORPUS_EMBEDDINGS} x 64, exact dup {gen.VEC_EXACT_DUP}, "
                      f"near dup {gen.VEC_NEAR_DUP}",
    }
    run.detail["store_bytes"] = _parquet_bytes(sf_dir)
    run.mark("inputs")
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = {s: ref.oracle_answer(con, ORACLES[s]) for s in PIPELINES if s in ORACLES}
    con.close()
    run.mark("oracles")

    took = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        for t in ("documents", "embeddings"):
            run.spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).createOrReplaceTempView(t)
        took.append(time.perf_counter() - t0)
    run.ingest_s = median(took)
    run.mark("setup")

    def pipeline(slug):
        def fn():
            df = QUERIES[slug](run.spark, sf_dir)
            return df, df.collect()

        def check(out):
            df, rows = out
            if slug in oracles:
                types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
                return ref.check_oracle(df.columns, types, [tuple(r) for r in rows],
                                        oracles[slug])
            return ref.check_semantic_manifest(
                [(r["vec_id"], r["cluster_id"], r["keep"]) for r in rows], emb["vec_id"])
        return slug, fn, check

    for slug in PIPELINES:
        run.op(*pipeline(slug), phase="cold")
    run.mark("cold")

    def cycle():
        return [pipeline(s) for s in PIPELINES]

    # three rounds at least, so each pipeline's p50 is a median of
    # three: a single round let one slow spell of the host or one late
    # JIT compile move the whole run
    run.timed_loop(cycle, min_cycles=3)
    run.mark("timed")
    run.op_metrics()
    rounds = []
    s = run.samples()
    for i in range(min(len(s.get(p, [])) for p in PIPELINES)):
        rounds.append(sum(s[p][i] for p in PIPELINES) / 1e3)
    if rounds:
        run.detail["pipeline_wall_s"] = median(rounds)


WORKLOADS = {
    "vector_serving": vector_serving,
    "curation_batch": curation_batch,
}
