"""Independent references the benchmark checks the engine against.

Nothing here calls the engine: exact search is NumPy brute force in
float64, the int8 store is re-quantized in NumPy, pipelines are
compared with their DuckDB oracles, and the semantic manifest is
checked against its stated invariants."""

from __future__ import annotations

import math

import numpy as np

ROUND_DIGITS = 6  # the engine rounds distances to 6 decimals
TIE_TOL = 1e-6  # ids may swap only where rounded distances agree this closely
_SLACK = 1e-9  # float noise on top of the rounding tolerance


def distances(store: np.ndarray, q, metric: str) -> np.ndarray:
    """Distances from every stored vector to `q`, in float64, rounded
    like the engine (6 decimals)."""
    x = store.astype(np.float64)
    qv = np.asarray(q, dtype=np.float64)
    if metric == "cosine":
        denom = np.sqrt((x * x).sum(axis=1)) * np.sqrt(qv @ qv)
        with np.errstate(divide="ignore", invalid="ignore"):
            d = np.where(denom != 0.0, 1.0 - (x @ qv) / denom, np.nan)
    else:
        diff = x - qv
        d = np.sqrt((diff * diff).sum(axis=1))
    return np.round(d, ROUND_DIGITS) + 0.0


def topk_ids(ref_d: np.ndarray, ids: np.ndarray, k: int) -> list[int]:
    """Reference top-k ids under the (dist, id) order."""
    order = np.lexsort((ids, ref_d))[:k]
    return [int(i) for i in ids[order]]


def check_topk(rows, ref_d: np.ndarray, ids: np.ndarray, id_pos: dict[int, int],
               k: int) -> str | None:
    """Tie-aware comparison of an engine top-k against the reference.

    `rows` are the engine's (id, dist) pairs in output order; `ref_d`
    the reference distance of every stored vector, `ids` their ids and
    `id_pos` the inverse map from id to position. Ids may differ from
    the reference only where rounded distances agree within TIE_TOL.
    Returns None when the result is correct, else the first problem
    found."""
    want = min(k, len(ref_d))
    if len(rows) != want:
        return f"{len(rows)} rows, want {want}"
    seen = set()
    prev = -math.inf
    for vid, dist in rows:
        vid = int(vid)
        if vid in seen:
            return f"id {vid} twice"
        seen.add(vid)
        pos = id_pos.get(vid)
        if pos is None:
            return f"id {vid} is not stored"
        if dist is None or abs(dist - ref_d[pos]) > TIE_TOL + _SLACK:
            return f"id {vid}: dist {dist}, reference {ref_d[pos]}"
        if dist < prev - TIE_TOL - _SLACK:
            return f"id {vid}: dist {dist} after {prev}"
        prev = dist
    kth = float(np.sort(ref_d)[want - 1])
    if abs(prev - kth) > TIE_TOL + _SLACK:
        return f"k-th dist {prev}, reference {kth}"
    inside = ids[ref_d < kth - TIE_TOL - _SLACK]
    missing = [int(i) for i in inside if int(i) not in seen]
    if missing:
        return f"missing ids {missing[:3]} strictly inside the k-th distance"
    return None


def recall(got_ids, true_ids) -> float:
    return len(set(int(i) for i in got_ids) & set(true_ids)) / len(true_ids)


def quantize_reference(x: np.ndarray, scale: float = 127.0) -> np.ndarray:
    """What an int8 store holds, read back: round(clip(v,-1,1)·127)/127
    as float32. Spark rounds half away from zero (HALF_UP) where NumPy
    rounds half to even, so the rounding is spelled out."""
    p = np.clip(x.astype(np.float64), -1.0, 1.0) * scale
    a = np.abs(p)
    fl = np.floor(a)
    q = np.sign(p) * (fl + (a - fl >= 0.5))
    return (q / scale).astype(np.float32)


def check_semantic_manifest(rows, vec_ids) -> str | None:
    """pipeline_semantic_corpus invariants: every vec_id once, exactly
    one keeper per cluster, and that keeper is the cluster's min id
    (which is also the cluster id)."""
    got = [int(r[0]) for r in rows]
    if len(got) != len(set(got)):
        return "a vec_id appears more than once"
    if set(got) != set(int(v) for v in vec_ids):
        return "manifest ids differ from the collection"
    members: dict[int, list[int]] = {}
    keepers: dict[int, list[int]] = {}
    for vid, cid, keep in rows:
        members.setdefault(int(cid), []).append(int(vid))
        if keep:
            keepers.setdefault(int(cid), []).append(int(vid))
        if bool(keep) != (int(vid) == int(cid)):
            return f"vec_id {vid}: keep={keep} but cluster_id={cid}"
    for cid, ids in members.items():
        k = keepers.get(cid, [])
        if len(k) != 1:
            return f"cluster {cid} has {len(k)} keepers"
        if k[0] != min(ids):
            return f"cluster {cid} keeps {k[0]}, min id is {min(ids)}"
    return None


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0.0 else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


_DUCK_TO_SPARK = {
    "TINYINT": "tinyint", "SMALLINT": "smallint", "INTEGER": "int",
    "BIGINT": "bigint", "FLOAT": "float", "DOUBLE": "double",
    "VARCHAR": "string", "BOOLEAN": "boolean", "DATE": "date",
    "TIMESTAMP": "timestamp",
}


def canonical_rows(cols, rows):
    """Rows as a sorted list of tuples with columns ordered by name —
    the order-insensitive form both engines are compared in."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def oracle_answer(con, sql: str) -> dict:
    """Run a DuckDB oracle once; keep what the comparison needs."""
    rel = con.sql(sql)
    cols = list(rel.columns)
    types = {c: _DUCK_TO_SPARK.get(str(t).upper(), str(t).lower())
             for c, t in zip(cols, rel.types)}
    return {"cols": sorted(cols), "types": types,
            "rows": canonical_rows(cols, rel.fetchall())}


def check_oracle(spark_cols, spark_types: dict, spark_rows, oracle: dict) -> str | None:
    """Parity with a DuckDB oracle: column names, canonical types,
    row count and order-insensitive values."""
    if sorted(spark_cols) != oracle["cols"]:
        return f"columns {sorted(spark_cols)} vs oracle {oracle['cols']}"
    for c in oracle["cols"]:
        if spark_types[c] != oracle["types"][c]:
            return f"type[{c}] {spark_types[c]} vs oracle {oracle['types'][c]}"
    got = canonical_rows(list(spark_cols), spark_rows)
    if len(got) != len(oracle["rows"]):
        return f"{len(got)} rows vs oracle {len(oracle['rows'])}"
    if got != oracle["rows"]:
        diff = next(a for a, b in zip(got, oracle["rows"]) if a != b)
        return f"values differ, first {diff}"
    return None
