"""Product quantization (PQ) — the memory side of large-scale ANN
(Jégou, Douze & Schmid, TPAMI 2011): compress each vector into m
one-byte codes so a 100 TB embedding corpus fits executor memory as a
codes table, then answer queries by asymmetric distance (ADC) — table
lookups instead of float dot products per candidate. Reads the embeddings
table (``vec_id``, ``embedding``).

Scale shape (audited in BENCH/PLANS.md):

- **Training** is sample-bounded BY DESIGN (the FAISS discipline —
  codebooks are trained on ~10^5 vectors regardless of corpus size):
  a deterministic ``vec_id % sample_mod`` sample is collected
  (hard-capped, raises on overflow like ``crossval_report``) and
  Lloyd's runs per subspace on the driver.
- **Encoding** is a zero-shuffle ``mapInPandas`` over a broadcast
  codebook (m × ksub × dsub doubles — 64 kB at the 8×16×8 default,
  1 MB at a production 16×256×48), one vectorized pass per Arrow batch.
- **ADC top-k** broadcasts the per-query lookup tables (nq × m × ksub
  doubles) and scans the CODES (m ints/vector, not d floats); the only
  exchange is the per-query ranking window over candidate rows.

Exactness: the numeric core (kernel/pq_core.py — seq-fold distances,
id-ordered member means, lowest-index argmin ties) is shared verbatim
with the Spark-free twin (tools/make_goldens.py::pq_twin), so the
driver rows are bit-exact and the differential covers exactly the Spark
plumbing: the bounded sample collect, broadcast round-trips, Arrow
batching, and the ranking window.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from yatsm_spark.kernel.pq_core import (
    pq_adc_core,
    pq_encode_core,
    pq_lut,
    pq_train_core,
)
from yatsm_spark.kernel.vecmath import seq_sqdist
from yatsm_spark.operators.grid import snap6
from yatsm_spark.operators.series import per_batch
from yatsm_spark.operators.vectors import gather, matrix, valid

#: training-sample hard cap — raising, not truncating, is the contract
MAX_TRAIN_SAMPLE = 1 << 17
#: (query, neighbor, unsnapped asymmetric distance) rows of both ADC scans
ADC_SCHEMA = ["query_id long", "neighbor_id long", "adist double"]


def pq_train(df: DataFrame, m: int = 8, ksub: int = 16, n_iters: int = 5,
             sample_mod: int = 1) -> np.ndarray:
    """(m, ksub, dsub) codebooks from a deterministic bounded sample in
    id order (kernel conventions: first-ksub init, id-ordered member
    means, empty clusters keep their centroid)."""
    if m < 1 or ksub < 2 or n_iters < 1:
        raise ValueError("need m >= 1, ksub >= 2, n_iters >= 1")
    V = _train_sample(df, sample_mod, "PQ",
                      " — training is sample-bounded by design")
    return pq_train_core(V, m, ksub, n_iters)


def _train_sample(df: DataFrame, sample_mod: int, what: str,
                  why: str = "") -> np.ndarray:
    return gather(df, F.col("embedding").isNotNull()
                  & (F.col("vec_id") % sample_mod == 0),
                  cap=MAX_TRAIN_SAMPLE, empty=f"{what} training sample is empty",
                  over=f"{what} training sample {{n}} exceeds {{cap}}; "
                       f"raise sample_mod{why}")[1]


def _queries(df: DataFrame, query_ids: list[int]):
    return gather(df, F.col("vec_id").isin([int(q) for q in query_ids]),
                  empty="no query vectors found for the given ids")


def pq_encode(df: DataFrame, codebooks: np.ndarray) -> DataFrame:
    """(vec_id, code array<int> of length m): per-subspace argmin against the
    broadcast codebooks — zero shuffle, one Arrow pass per batch. Null /
    length-mismatched vectors are dropped (same contract as PCA)."""
    m, _, dsub = codebooks.shape

    def encode(pdf, B):
        codes = pq_encode_core(matrix(pdf["embedding"]), B)
        return pd.DataFrame({"vec_id": pdf["vec_id"],
                             "code": [row.tolist() for row in codes]})

    return per_batch(valid(df, m * dsub).select("vec_id", "embedding"),
                     encode, ["vec_id", "code array<int>"], name="pq_encode",
                     payload=np.asarray(codebooks, dtype=np.float64))


def pq_adc_topk(df: DataFrame, codebooks: np.ndarray, query_ids: list[int],
                k: int = 5, codes: DataFrame | None = None,
                round6: bool = True) -> DataFrame:
    """(query_id, neighbor_id, adist, rank): asymmetric-distance top-k.

    Per-query LUTs are built driver-side from the broadcast-small query
    set and shipped once; the scan reads the codes table. ``codes`` (a
    ``pq_encode`` result) can be passed to reuse a stored codes table —
    the production shape, where encode happens once at ingest.
    Deterministic ranking: grid-snapped adist ASC, neighbor id ASC
    (floor(x*1e6+0.5) — adist >= 0, identical closed form in the twin)."""
    qids, Q = _queries(df, query_ids)
    if codes is None:
        codes = pq_encode(df, codebooks)

    def adc(pdf, payload):
        qids_b, L = payload
        C = matrix(pdf["code"], np.int64)
        n = len(pdf)
        out_q, out_n, out_d = [], [], []
        for qi, qid in enumerate(qids_b):
            acc = pq_adc_core(C, L[qi])
            out_q += [qid] * n
            out_n += list(pdf["vec_id"])
            out_d += list(acc)
        return pd.DataFrame({"query_id": out_q, "neighbor_id": out_n,
                             "adist": out_d})

    pairs = per_batch(codes, adc, ADC_SCHEMA, name="pq_adc_topk",
                      payload=(qids, pq_lut(Q, codebooks))) \
        .filter(F.col("neighbor_id") != F.col("query_id"))
    adist = snap6(F.col("adist")) if round6 else F.col("adist")
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc())
    return (pairs.select("query_id", "neighbor_id", adist.alias("adist"))
                 .withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= k))


# --------------------------------------------------------------- IVF-PQ

def ivfpq_index(df: DataFrame, n_centroids: int = 8, m: int = 8,
                ksub: int = 16, n_iters: int = 5, sample_mod: int = 1):
    """(coarse, books): the two codebooks of an IVF-PQ index, trained on
    one deterministic bounded sample. The coarse quantizer IS Lloyd's on
    full vectors — pq_train_core with a single subspace of ksub =
    n_centroids — so both trainings share the same kernel conventions.
    PQ encodes RAW vectors (not residuals) — documented simplification;
    the routing/compression architecture is the FAISS shape either way."""
    V = _train_sample(df, sample_mod, "IVF-PQ")
    coarse = pq_train_core(V, 1, n_centroids, n_iters)[0]
    books = pq_train_core(V, m, ksub, n_iters)
    return coarse, books


def ivfpq_encode(df: DataFrame, coarse: np.ndarray,
                 books: np.ndarray) -> DataFrame:
    """(vec_id, cluster, code): coarse assignment + PQ codes in ONE
    zero-shuffle Arrow pass — the ingest-time index build. Ties take the
    lowest cluster id (argmin first occurrence)."""
    m, _, dsub = books.shape

    def encode(pdf, payload):
        Cm, B = payload
        V = matrix(pdf["embedding"])
        cl = np.argmin(seq_sqdist(V, Cm), axis=1).astype(np.int32)
        codes = pq_encode_core(V, B)
        return pd.DataFrame({"vec_id": pdf["vec_id"], "cluster": cl,
                             "code": [row.tolist() for row in codes]})

    return per_batch(valid(df, m * dsub).select("vec_id", "embedding"),
                     encode, ["vec_id", "cluster int", "code array<int>"],
                     name="ivfpq_encode",
                     payload=tuple(np.asarray(a, dtype=np.float64)
                                   for a in (coarse, books)))


def ivfpq_topk(df: DataFrame, coarse: np.ndarray, books: np.ndarray,
               query_ids: list[int], nprobe: int = 2, k: int = 5,
               encoded: DataFrame | None = None) -> DataFrame:
    """(query_id, neighbor_id, adist, rank): the full IVF-PQ serve path —
    coarse-route each query to its nprobe nearest inverted lists, then
    ADC-score ONLY those lists' codes.

    Scale shape: the (query_id, cluster) probe pairs are a broadcast of
    nq x nprobe rows joined against the encoded table — at 100 TB the
    scan touches ~nprobe/n_centroids of the codes (m ints per vector),
    and the only exchange is the final per-query ranking. With nprobe =
    n_centroids the result equals brute-force pq_adc_topk on the same
    codebooks (pytest-pinned)."""
    qids, Q = _queries(df, query_ids)
    nprobe = min(nprobe, coarse.shape[0])
    cdist = seq_sqdist(Q, coarse)
    # probe order: distance, then lowest cluster id (lexsort is stable)
    probes = [np.lexsort((np.arange(coarse.shape[0]), cdist[i]))[:nprobe]
              for i in range(len(qids))]
    if encoded is None:
        encoded = ivfpq_encode(df, coarse, books)
    spark = df.sparkSession
    probe_pairs = spark.createDataFrame(
        [(qid, int(c)) for qid, pr in zip(qids, probes) for c in pr],
        "query_id long, cluster int")
    cand = encoded.join(F.broadcast(probe_pairs), "cluster") \
                  .filter(F.col("vec_id") != F.col("query_id"))

    def adc(pdf, payload):
        qids_b, L = payload
        pos = {q: i for i, q in enumerate(qids_b)}
        C = matrix(pdf["code"], np.int64)
        qcol = pdf["query_id"].to_numpy()
        adist = np.empty(len(pdf), dtype=np.float64)
        for q in np.unique(qcol):
            sel = qcol == q
            adist[sel] = pq_adc_core(C[sel], L[pos[int(q)]])
        return pd.DataFrame({"query_id": qcol, "neighbor_id": pdf["vec_id"],
                             "adist": adist})

    pairs = per_batch(cand.select("query_id", "vec_id", "code"), adc,
                      ADC_SCHEMA, name="ivfpq_topk",
                      payload=(qids, pq_lut(Q, books)))
    snapped = snap6(F.col("adist"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc())
    return (pairs.select("query_id", "neighbor_id", snapped.alias("adist"))
                 .withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= k))
