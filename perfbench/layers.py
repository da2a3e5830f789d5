"""Per-layer metrics of a traced run.

Every traced run reports every metric below, whatever its workload:
a layer that did no work in a workload reads 0 there (no ANN index
is fitted while curating a corpus). README.md maps each one to the
end-to-end figure it should move and the workload it moves it on."""

from __future__ import annotations

import inspect

import numpy as np

import reference as ref
from stats import geomean, median
from tracing import SPARK_STATS, spark_op_metrics, union_ms

ENGINE_VERBS = ("insert", "get", "search", "search_batch", "snapshot", "restore")
FIT_SPANS = ("build_ivf_index", "fit_pq_codebooks", "encode_pq_arrow", "build_lsh_index")
SPARK_OPS = (
    "insert", "get", "search_exact", "search_batch", "ann_ivf", "ann_pq", "ann_lsh",
    "snapshot", "restore", "pipeline_pretraining_corpus", "pipeline_curation_full",
    "pipeline_semantic_corpus",
)

PER_LAYER = [
    ("session.start_s", "s"),
    ("trace.overhead_ms", "ms"),
    ("catalyst.ms", "ms"),
    ("driver.gap_ms", "ms"),
    *[(f"engine.{v}.{stat}", unit) for v in ENGINE_VERBS
      for stat, unit in (("calls", "count"), ("self_ms", "ms"))],
    ("engine.store.files", "count"),
    ("engine.index_fits", "count"),
    ("parquet.row_count.calls", "count"),
    ("parquet.row_count.ms", "ms"),
    ("store.bytes", "bytes"),
    ("knn.exact_knn.plan_ms", "ms"),
    ("knn.batch_auto.path_arrow", "count"),
    ("knn.batch_auto.path_expr", "count"),
    ("knn.collect_serving_batch.ms", "ms"),
    *[(f"ann.{f}.ms", "ms") for f in FIT_SPANS],
    *[(f"ann.{t}.p50_ms", "ms") for t in ("ivf", "pq", "lsh")],
    *[(f"ann.recall_at_10.{t}", "ratio") for t in ("ivf", "pq", "lsh")],
    ("ann.ivf.candidates_per_result", "ratio"),
    ("ann.pq.shortlist_recall", "ratio"),
    *[(f"pipeline.{s}.wall_ms", "ms") for s in SPARK_OPS[-3:]],
    *[(f"spark.{op}.{stat}", unit) for op in SPARK_OPS for stat, unit in SPARK_STATS],
]


def install(tracer) -> None:
    """Wrap the program's public calls in span recorders. The engine
    binds exact_knn at import, so its copy is wrapped as well."""
    import vfs_spark.engine as engine
    import vfs_spark.operators.ann as ann
    import vfs_spark.operators.knn as knn
    import vfs_spark.sources.parquet as parquet

    for verb in ENGINE_VERBS:
        tracer.wrap(engine.VFSEngine, verb, f"engine.{verb}")
    tracer.wrap(knn, "exact_knn", "knn.exact_knn")
    tracer.wrap(engine, "exact_knn", "knn.exact_knn")
    tracer.wrap(knn, "knn_batch_auto", "knn.batch_auto")
    tracer.wrap(knn, "knn_batch_arrow", "knn.batch_arrow")
    tracer.wrap(knn, "knn_batch", "knn.batch_expr")
    tracer.wrap(knn, "collect_serving_batch", "knn.collect_serving_batch")
    for f in FIT_SPANS:
        tracer.wrap(ann, f, f"ann.{f}")
    tracer.wrap(ann, "ivf_search", "ann.ivf_search", capture=True)
    tracer.wrap(ann, "pq_search", "ann.pq_search", capture=True)
    tracer.wrap(parquet, "parquet_row_count", "parquet.row_count")


def _p50(xs) -> float:
    return float(median(xs)) if xs else 0.0


def _ivf_candidates(tracer) -> float:
    """Rows in the probed IVF cells per result (k), over traced
    searches: what the IVF scan reads to return one neighbour."""
    calls = tracer.captured.get("ann.ivf_search", [])
    if not calls:
        return 0.0
    import vfs_spark.operators.ann as ann

    args, kwargs, _ = calls[0]
    km, assigned = args[0], args[1]
    sizes = dict(assigned.groupBy("cluster_id").count().collect())
    centers = np.asarray([np.asarray(c) for c in km.clusterCenters()])
    sig = inspect.signature(ann.ivf_search)
    out = []
    for args, kwargs, _ in calls:
        q = np.asarray(args[2], dtype=float)
        nprobe = kwargs.get("nprobe", sig.parameters["nprobe"].default)
        k = kwargs.get("k", sig.parameters["k"].default)
        cells = np.argsort(((centers - q) ** 2).sum(axis=1))[:nprobe]
        out.append(sum(sizes.get(int(c), 0) for c in cells) / k)
    return float(np.mean(out))


def _pq_shortlist_recall(tracer, store_ref, limit: int = 4) -> float:
    """Share of the true top-10 present in PQ's ADC shortlist (before
    the exact rerank), over a few traced searches."""
    calls = tracer.captured.get("ann.pq_search", [])[:limit]
    if not calls or store_ref is None:
        return 0.0
    vals = []
    for args, _kwargs, df in calls:
        q = args[2]  # pq_search(encoded_df, codebooks, query, ...)
        true_ids = ref.topk_ids(ref.distances(store_ref.vectors, q, "euclidean"),
                                store_ref.ids, 10)
        got = [r[0] for r in df.select(df.columns[0]).collect()]
        vals.append(ref.recall(got, true_ids))
    return float(np.mean(vals))


def collect(run, tracer) -> dict:
    """Metrics computed while the session is still up (they run a few
    untimed Spark jobs of their own)."""
    return {
        "ann.ivf.candidates_per_result": _ivf_candidates(tracer),
        "ann.pq.shortlist_recall": _pq_shortlist_recall(tracer, getattr(run, "store_ref", None)),
    }


def assemble(run, tracer, groups: dict, extra: dict) -> dict[str, tuple[float, str]]:
    """Every per-layer metric, from the traced ops of the timed loop
    (index fits: from the cold calls, where they happen)."""
    timed = {r["label"] for r in run.ops if r["phase"] == "timed" and r["traced"]}
    cold = {r["label"] for r in run.ops if r["phase"] == "cold"}
    subs = run.sub_groups

    def dur(name, labels):
        return [(s["t1"] - s["t0"]) * 1e3 for s in tracer.spans
                if s["name"] == name and s["op"] in labels]

    self_by_name: dict[str, list[float]] = {}
    for s, ms in zip(tracer.spans, tracer.self_times()):
        if s["op"] in timed:
            self_by_name.setdefault(s["name"], []).append(ms)

    v: dict[str, float] = {}
    v["session.start_s"] = run.session_start_s
    traced_roll = geomean(median(x) for x in run.samples(traced=True).values())
    plain_roll = geomean(median(x) for x in run.samples(traced=False).values())
    v["trace.overhead_ms"] = traced_roll - plain_roll
    cat = [r["catalyst_ms"] for r in run.ops
           if r["label"] in timed and r.get("catalyst_ms") is not None]
    v["catalyst.ms"] = _p50(cat)

    gaps = []
    for r in run.ops:
        if r["label"] not in timed:
            continue
        ivs = [iv for lab in [r["label"], *subs.get(r["label"], [])]
               for iv in groups.get(lab, {}).get("intervals", [])]
        ivs = [(max(a, r["e0"]), min(b, r["e1"])) for a, b in ivs if b > r["e0"] and a < r["e1"]]
        gaps.append(max(0.0, (r["e1"] - r["e0"]) - union_ms(ivs)))
    v["driver.gap_ms"] = _p50(gaps)

    for verb in ENGINE_VERBS:
        v[f"engine.{verb}.calls"] = float(len(dur(f"engine.{verb}", timed)))
        v[f"engine.{verb}.self_ms"] = _p50(self_by_name.get(f"engine.{verb}", []))
    v["engine.store.files"] = _p50(run.store_files)
    v["engine.index_fits"] = float(sum(len(dur(f"ann.{f}", timed)) for f in FIT_SPANS))
    v["parquet.row_count.calls"] = float(len(dur("parquet.row_count", timed)))
    v["parquet.row_count.ms"] = _p50(dur("parquet.row_count", timed))
    v["store.bytes"] = float(run.detail.get("store_bytes", 0))
    v["knn.exact_knn.plan_ms"] = _p50(dur("knn.exact_knn", timed))
    v["knn.batch_auto.path_arrow"] = float(len(dur("knn.batch_arrow", timed)))
    v["knn.batch_auto.path_expr"] = float(len(dur("knn.batch_expr", timed)))
    v["knn.collect_serving_batch.ms"] = _p50(dur("knn.collect_serving_batch", timed))
    for f in FIT_SPANS:
        v[f"ann.{f}.ms"] = float(sum(dur(f"ann.{f}", cold)))
    samples = run.samples()
    samples_t = run.samples(traced=True)
    recall = run.detail.get("ann_recall_at_10", {})
    for t in ("ivf", "pq", "lsh"):
        v[f"ann.{t}.p50_ms"] = _p50(samples.get(f"ann_{t}", []) + samples_t.get(f"ann_{t}", []))
        v[f"ann.recall_at_10.{t}"] = float(recall.get(f"ann_{t}", 0.0))
    v.update(extra)
    for slug in SPARK_OPS[-3:]:
        v[f"pipeline.{slug}.wall_ms"] = _p50(samples.get(slug, []) + samples_t.get(slug, []))

    timed_labels = timed | {lab for t in timed for lab in subs.get(t, [])}
    timed_groups = {lab: g for lab, g in groups.items() if lab in timed_labels}
    for op in SPARK_OPS:
        for stat, val in spark_op_metrics(timed_groups, op).items():
            v[f"spark.{op}.{stat}"] = val
    return {name: (float(v[name]), unit) for name, unit in PER_LAYER}
