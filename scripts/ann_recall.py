"""Recall@k of the quantized/batched ANN gears against exact brute force.

The ANN ladder's committed evidence is oracle-EXACTNESS (each gear's
deterministic ranking matches DuckDB bit-for-bit) and wall growth; this
instrument adds the QUALITY half the round-9 verdict asked for: how
close each deployable gear's top-k is to exact full-precision
brute-force top-k on the same corpus (q118's in-repo recall precedent,
generalized to the ladder).

Ground truth is computed vectorized in numpy straight off the parquet
file (no Spark, no sampling — the full corpus), per gear metric:

  q162p (SQ8 ADC)      exact squared-L2 ascending, id tiebreak
  q159  (PQ)           exact squared-L2 ascending, id tiebreak
  q160  (IVFPQ)        the same ground truth as q159
  q161  (IVFPQ resid.) the same ground truth as q159
  q166  (binary+rerank) exact cosine descending, id tiebreak
  q168  (batched exact) exact cosine per query, self excluded
                        (a control row — the gear is exact, its recall
                        must be 1.0; anything else flags the harness)

Gear results come from the registered queries themselves (same
parameters the correctness gate pins: qid=0 (SQ8, binary), qid=7 (PQ),
k=10, batch (0,7,13,21)).

Usage: python scripts/ann_recall.py SF_DIR [out.json]
(run serially on a quiet box; one fresh Spark session for all gears)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pyarrow.parquet as pq

K = 10


def exact_sets(sf_dir: str):
    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = np.asarray(tbl["vec_id"].to_pylist(), dtype=np.int64)
    V = np.array(tbl["embedding"].to_pylist(), dtype=np.float64)
    # engine contract rows: NULL vectors / null elements are out of the
    # scan everywhere; the synthetic fixtures carry none, but guard so a
    # driver dir with nulls cannot skew ground truth silently
    ok = ~np.isnan(V).any(axis=1)
    ids, V = ids[ok], V[ok]
    nrm = np.linalg.norm(V, axis=1)
    live = nrm > 0
    idsn, Vn, nrmn = ids[live], V[live], nrm[live]

    out: dict[str, object] = {}

    def topk_ids(order_key_ids, order_vals, k=K, descending=False):
        v = -order_vals if descending else order_vals
        sel = np.lexsort((order_key_ids, v))[:k]
        return set(int(i) for i in order_key_ids[sel])

    q = V[ids == 0][0]
    d2 = ((V - q) ** 2).sum(axis=1)
    out["q162p"] = topk_ids(ids, d2)
    q7 = V[ids == 7][0]
    out["pq"] = topk_ids(ids, ((V - q7) ** 2).sum(axis=1))

    qn = q / np.linalg.norm(q)
    cos = (Vn / nrmn[:, None]) @ qn
    out["q166"] = topk_ids(idsn, cos, descending=True)

    per_q = {}
    for qid in (0, 7, 13, 21):
        qv = V[ids == qid][0]
        qvn = qv / np.linalg.norm(qv)
        c = (Vn / nrmn[:, None]) @ qvn
        mask = idsn != qid
        per_q[qid] = topk_ids(idsn[mask], c[mask], descending=True)
    out["q168"] = per_q
    return out


def main() -> None:
    sf_dir = sys.argv[1]
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/ann_recall.json"
    exact = exact_sets(sf_dir)

    from ipes_data_pipeline_spark.queries import REGISTRY, load_all
    from ipes_data_pipeline_spark.session import get_session

    load_all()
    spark = get_session("ann-recall")
    spark.sparkContext.setLogLevel("ERROR")

    recalls: dict[str, float] = {}
    got = {
        int(r["id"])
        for r in REGISTRY["q162p_sq8_ann_scalable"].spark(spark, sf_dir).collect()
    }
    recalls["q162p_sq8"] = len(got & exact["q162p"]) / K
    for name in ("q159_pq_ann", "q160_ivfpq_ann", "q161_ivfpq_residual_ann"):
        got = {int(r["id"]) for r in REGISTRY[name].spark(spark, sf_dir).collect()}
        recalls[name] = len(got & exact["pq"]) / K
    got = {
        int(r["id"])
        for r in REGISTRY["q166_binary_sign_ann"].spark(spark, sf_dir).collect()
    }
    recalls["q166_binary"] = len(got & exact["q166"]) / K
    rows = REGISTRY["q168_ann_topk_batch"].spark(spark, sf_dir).collect()
    by_q: dict[int, set[int]] = {}
    for r in rows:
        by_q.setdefault(int(r["qid"]), set()).add(int(r["id"]))
    recalls["q168_batch_exact_control"] = float(
        np.mean([len(by_q.get(q, set()) & e) / K for q, e in exact["q168"].items()])
    )
    payload = {
        "metric": "ann_recall_at_k",
        "k": K,
        "sf_dir": sf_dir,
        "recall": recalls,
    }
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps(payload, sort_keys=True))


if __name__ == "__main__":
    main()
