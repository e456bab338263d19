"""Generate pure-numpy twin goldens for the rows-only driver queries.

    python tools/make_goldens.py

Writes (committed to the repo so the driver's DuckDB oracle can read them):

    data/golden_segments_sf0.01.parquet   — tx_segments twin
    data/golden_classify_sf0.01.parquet   — tx_classify twin

The twin drives the numpy kernels (kernel/ccdc.py, kernel/classify.py)
directly with NO Spark in the loop: the rollup+gapfill lineage is
recomputed in DuckDB SQL (the exact SQL shape the driver's green
tx_gapfill_1m oracle row already pins), each conv's dense series is fit
sequentially in plain pandas/numpy, and the forest is trained on the
deterministically-sorted labeled sample. A driver hash match on
tx_segments / tx_classify is therefore a genuine Spark-vs-numpy
differential over applyInPandas plumbing, densification, group ordering,
and output schema (round-2 VERDICT task 1).

Regenerate whenever kernel/ccdc.py, kernel/classify.py, CONV_PARAMS, or
the committed sf0.01 transcript table changes; tests/test_goldens.py
pins freshness.
"""

from __future__ import annotations

import os
import sys
from dataclasses import asdict

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from yatsm_spark.kernel.ccdc import CCDCParams, ccdc_fit  # noqa: E402
from yatsm_spark.kernel.classify import RandomForest  # noqa: E402

TX = os.path.join(REPO, "data", "transcripts_sf0.01.parquet")
#: Driver-generated embeddings table at the correctness SF — the SAME file
#: q_kmeans_codebook reads, so both sides of the differential see identical
#: bytes. If the driver ever regenerates testdata with a new seed,
#: tests/test_goldens.py fails loudly and the golden must be re-made.
EMB = "/root/testdata/sf0.01/embeddings.parquet"
#: Driver-generated documents table at the correctness SF — the id list the
#: multimodal_jpeg query derives its synthetic media ids from.
DOCS = "/root/testdata/sf0.01/documents.parquet"
N_COEF = 4  # harmonic_design(order=1): [1, t, cos, sin]

GAPFILLED_1M_SQL = """
    WITH t AS (SELECT * FROM read_parquet('{tx}/*.parquet')
               WHERE conv_id < '{conv_max}'),
    r AS (
      SELECT conv_id,
             to_timestamp((floor(epoch(ts)/60)*60)::bigint)::timestamp AS window_start,
             count(*)::long AS turn_count
      FROM t GROUP BY 1, 2),
    spans AS (SELECT conv_id, min(window_start) mn, max(window_start) mx
              FROM r GROUP BY conv_id),
    grid AS (SELECT conv_id,
                    unnest(generate_series(mn, mx, INTERVAL 1 MINUTE)) AS window_start
             FROM spans)
    SELECT g.conv_id, g.window_start,
           coalesce(r.turn_count, 0)::long AS turn_count
    FROM grid g LEFT JOIN r ON g.conv_id = r.conv_id
         AND g.window_start = r.window_start
    ORDER BY g.conv_id, g.window_start
"""


def _conv_params() -> CCDCParams:
    # Shared CONFIG (not Spark plumbing) — must match the operator exactly.
    from yatsm_spark.operators.changescore import CONV_PARAMS

    return CCDCParams(**asdict(CONV_PARAMS))


def _day_to_ts(day: float) -> pd.Timestamp:
    return pd.Timestamp(round(day * 86400.0), unit="s")


def _conv_series(conv_max: str, sql: str = GAPFILLED_1M_SQL,
                 cols: tuple[str, ...] = ("turn_count",)):
    """(conv_id, t in days, Y (len(cols), n)) per conv in conv_id order,
    from the dense 1m table (DuckDB)."""
    filled = duckdb.sql(sql.format(tx=TX, conv_max=conv_max)).df()
    for conv_id, g in filled.groupby("conv_id", sort=True):
        g = g.sort_values("window_start", kind="stable")
        epochs = g["window_start"].to_numpy().astype("datetime64[s]").astype(np.int64)
        yield conv_id, epochs / 86400.0, np.vstack(
            [g[c].to_numpy(dtype=np.float64) for c in cols])


def _segment_row(conv_id: str, i: int, s, fit: bool = True) -> dict:
    """The columns every segments-shaped golden starts with; ``fit`` adds
    series 0's coef_j / rmse / magnitude / n_obs."""
    row = {
        "conv_id": conv_id,
        "segment_id": np.int32(i),
        "start_ts": _day_to_ts(s.start_day),
        "end_ts": _day_to_ts(s.end_day),
        "break_ts": _day_to_ts(s.break_day) if s.break_day else pd.NaT,
    }
    if fit:
        for j in range(N_COEF):
            row[f"coef_{j}"] = float(s.coef[0][j])
        row.update(rmse=float(s.rmse[0]), magnitude=float(s.magnitude[0]),
                   n_obs=np.int32(s.n_obs))
    return row


def _frame(rows: list[dict], int32_cols=("segment_id", "n_obs")) -> pd.DataFrame:
    out = pd.DataFrame(rows)
    for c in int32_cols:
        out[c] = out[c].astype(np.int32)
    return out


def segments_twin(conv_max: str, convs: set[str] | None = None) -> pd.DataFrame:
    """Numpy-twin of q_tx_segments: dense 1m turn_count series per conv
    (DuckDB), then kernel ccdc_fit per conv in input order."""
    params = _conv_params()
    rows = []
    for conv_id, t, Y in _conv_series(conv_max):
        if convs is not None and conv_id not in convs:
            continue
        for i, s in enumerate(ccdc_fit(t, Y, params).segments):
            rows.append(_segment_row(conv_id, i, s))
    return _frame(rows)


GAPFILLED_MULTI_SQL = """
    WITH t AS (SELECT * FROM read_parquet('{tx}/*.parquet')
               WHERE conv_id < '{conv_max}'),
    r AS (
      SELECT conv_id,
             to_timestamp((floor(epoch(ts)/60)*60)::bigint)::timestamp AS window_start,
             count(*)::long AS turn_count,
             count(tool)::long AS tool_call_count
      FROM t GROUP BY 1, 2),
    spans AS (SELECT conv_id, min(window_start) mn, max(window_start) mx
              FROM r GROUP BY conv_id),
    grid AS (SELECT conv_id,
                    unnest(generate_series(mn, mx, INTERVAL 1 MINUTE)) AS window_start
             FROM spans)
    SELECT g.conv_id, g.window_start,
           coalesce(r.turn_count, 0)::long AS turn_count,
           coalesce(r.tool_call_count, 0)::long AS tool_call_count
    FROM grid g LEFT JOIN r ON g.conv_id = r.conv_id
         AND g.window_start = r.window_start
    ORDER BY g.conv_id, g.window_start
"""


def segments_multi_twin(conv_max: str) -> pd.DataFrame:
    """Numpy-twin of q_tx_segments_multi: joint [turn_count,
    tool_call_count] fit per conv, per-band outputs flattened to scalar
    columns (coef_{band}_{j}, rmse_{band}, magnitude_{band})."""
    params = _conv_params()
    rows = []
    for conv_id, t, Y in _conv_series(conv_max, GAPFILLED_MULTI_SQL,
                                      ("turn_count", "tool_call_count")):
        for i, s in enumerate(ccdc_fit(t, Y, params).segments):
            row = _segment_row(conv_id, i, s, fit=False)
            for b in range(2):
                for j in range(N_COEF):
                    row[f"coef_{b}_{j}"] = float(s.coef[b][j])
                row[f"rmse_{b}"] = float(s.rmse[b])
                row[f"magnitude_{b}"] = float(s.magnitude[b])
            row["n_obs"] = np.int32(s.n_obs)
            rows.append(row)
    return _frame(rows)


FCOLS = [f"coef_{j}" for j in range(N_COEF)] + ["rmse", "magnitude", "n_obs"]


def _labeled_sample(segments: pd.DataFrame):
    """(segs, feats, sample): the conv<200 slice of the segments twin, its
    feature frame, and the sorted labeled sample (conv<100, labelled by
    turn count) the classify and crossval queries train on."""
    segs = segments[segments["conv_id"] < "conv00000200"].reset_index(drop=True)
    labels = duckdb.sql(f"""
        SELECT conv_id,
               CASE WHEN count(*) >= 400 THEN 'active' ELSE 'light' END AS label
        FROM read_parquet('{TX}/*.parquet')
        WHERE conv_id < 'conv00000100' GROUP BY conv_id
    """).df()
    feats = segs[["conv_id", "segment_id"] + FCOLS].copy()
    feats["n_obs"] = feats["n_obs"].astype(np.float64)
    sample = feats.merge(labels, on="conv_id")
    sample = sample.sort_values(["conv_id", "segment_id"], kind="stable").reset_index(drop=True)
    return segs, feats, sample


def classify_twin(segments: pd.DataFrame) -> pd.DataFrame:
    """Numpy-twin of q_tx_classify on the conv<200 slice of the segments
    twin: deterministic activity labels, sorted bounded sample, seeded
    forest, predict every segment."""
    segs, feats, sample = _labeled_sample(segments)
    model = RandomForest(n_trees=20, seed=11).fit(
        sample[FCOLS].to_numpy(dtype=np.float64), sample["label"].to_numpy())
    proba = model.predict_proba(feats[FCOLS].to_numpy(dtype=np.float64))
    k = np.argmax(proba, axis=1)
    return pd.DataFrame({
        "conv_id": segs["conv_id"],
        "segment_id": segs["segment_id"].astype(np.int32),
        "class": model.classes_[k].astype(str),
        "class_proba": proba[np.arange(len(k)), k],
    })


def crossval_twin(segments: pd.DataFrame) -> pd.DataFrame:
    """Numpy-twin of q_tx_crossval (A4): the SAME sorted labeled sample as
    classify_twin, through kernel kfold_scores — differential over the
    Spark lineage (segments -> features -> bounded sample collection)."""
    from yatsm_spark.kernel.classify import kfold_scores

    _, _, sample = _labeled_sample(segments)
    scores = kfold_scores(sample[FCOLS].to_numpy(dtype=np.float64),
                          sample["label"].to_numpy(), k=5, n_trees=20)
    return pd.DataFrame({"fold": np.arange(5), "accuracy": scores})


def postprocess_twin(conv_max: str, crit: float | None) -> pd.DataFrame:
    """Numpy-twin of q_tx_commission_omission / q_tx_refit (P1-P3): the
    segments_twin lineage, then kernel commission merge (when crit is not
    None), omission Rec-CUSUM scores, and the robust refit per surviving
    segment — all Spark-free, so a driver hash match is a differential
    over the applyInPandas postprocess plumbing."""
    from yatsm_spark.kernel.postprocess import (
        commission_test,
        omission_scores,
        refit_segments,
    )

    params = _conv_params()
    rows = []
    for conv_id, t, Y in _conv_series(conv_max):
        y = Y[0]
        segs = ccdc_fit(t, y, params).segments
        if crit is not None:
            segs = commission_test(t, y, segs, params, crit=crit)
        om = omission_scores(t, y, segs, params)
        rf = refit_segments(t, y, segs, params, estimator="rlm_maxiter10")
        for i, s in enumerate(segs):
            row = _segment_row(conv_id, i, s)
            row["omission_score"] = float(om[i])
            for j in range(N_COEF):
                row[f"robust_coef_{j}"] = float(rf[i]["coef"][0][j])
            row["robust_rmse"] = float(rf[i]["rmse"][0])
            rows.append(row)
    return _frame(rows)


def pheno_segments_twin(conv_max: str) -> pd.DataFrame:
    """Numpy-twin of q_tx_segments_pheno: the segments_twin lineage plus
    the spline-smoothed diurnal phenology fields per segment
    (kernel/phenology.py) — pins the PHENO_SEGMENT field-append path
    end to end (round-3 VERDICT next #3)."""
    from yatsm_spark.kernel.phenology import diurnal_phenology

    params = _conv_params()
    rows = []
    for conv_id, t, Y in _conv_series(conv_max):
        for i, s in enumerate(ccdc_fit(t, Y, params).segments):
            row = _segment_row(conv_id, i, s)
            seg = (t >= s.start_day) & (t <= s.end_day)
            row.update(diurnal_phenology(
                np.round(t[seg] * 86400.0).astype(np.int64), Y[0][seg]))
            rows.append(row)
    return _frame(rows, ("segment_id", "n_obs", "peak_hour", "rise_hour",
                         "fall_hour", "pheno_nobs"))


def kmeans_twin(n_centroids: int = 8, n_iters: int = 3, seed: int = 0,
                sample_mod: int = 1) -> pd.DataFrame:
    """Spark-free numpy twin of operators/similarity.train_kmeans on the
    sf0.01 embeddings: same systematic sample, same lowest-id init, same
    sequential-fold cosine assignment (kernel.vecmath — the identical IEEE
    add sequence the broadcast mapInPandas path executes), same
    vec_id-ordered member sum and per-component division. Long format
    (cid, pos, val, n_members) matching kmeans_codebook_table, so a driver
    hash match is a genuine differential over the distributed Lloyd's
    plumbing (broadcast round-trip, groupBy(cluster) collect_list ordering,
    empty-cluster handling)."""
    from yatsm_spark.kernel.vecmath import cosine_sims_seqfold, seq_norm

    df = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{EMB}') ORDER BY vec_id"
    ).df()
    ids = df["vec_id"].to_numpy(dtype=np.int64)
    V = np.stack([np.asarray(v, dtype=np.float64) for v in df["embedding"]])
    if sample_mod > 1:
        keep = (ids % sample_mod) == (seed % sample_mod)
        ids, V = ids[keep], V[keep]
    if len(ids) < n_centroids:
        raise ValueError("sample smaller than n_centroids")
    C = V[:n_centroids].copy()  # rows already in vec_id order -> lowest ids
    counts = np.zeros(n_centroids, dtype=np.int64)
    for _ in range(n_iters):
        sims, _ = cosine_sims_seqfold(V, C, seq_norm(C))
        cl = np.argmax(sims, axis=1)  # first max = lowest cid, as Catalyst
        counts = np.zeros(n_centroids, dtype=np.int64)
        new_C = C.copy()
        for cid in range(n_centroids):
            members = np.nonzero(cl == cid)[0]  # ascending vec_id order
            if len(members) == 0:
                continue  # empty cluster keeps previous centroid
            counts[cid] = len(members)
            acc = np.zeros(V.shape[1], dtype=np.float64)
            for i in members:
                acc = acc + V[i]
            new_C[cid] = acc / len(members)
        C = new_C
    rows = [{"cid": np.int32(cid), "pos": np.int32(pos),
             "val": float(C[cid, pos]), "n_members": int(counts[cid])}
            for cid in range(n_centroids) for pos in range(V.shape[1])]
    out = pd.DataFrame(rows)
    out["cid"] = out["cid"].astype(np.int32)
    out["pos"] = out["pos"].astype(np.int32)
    out["n_members"] = out["n_members"].astype(np.int64)
    return out


def jpeg_twin() -> pd.DataFrame:
    """Spark-free twin of the multimodal_jpeg query: synthesize each
    sf0.01 doc's deterministic coefficient-space JPEG, decode it with the
    kernel codec (the entropy path is exactly lossless at quality=100),
    and compute the image_features means driver-side. A driver hash match
    is a differential over the mapInPandas plumbing AND proves the
    payload's compressed bytes round-trip identically under Spark."""
    from yatsm_spark.kernel.jpeg import decode_jpeg
    from yatsm_spark.operators.multimodal import jpeg_payload

    ids = duckdb.sql(
        f"SELECT doc_id FROM read_parquet('{DOCS}') ORDER BY doc_id"
    ).df()["doc_id"].to_numpy(dtype=np.int64)
    rows = []
    for mid in ids:
        img = decode_jpeg(jpeg_payload(int(mid)))
        h, w, _ = img.shape
        s = img.reshape(-1, 3).astype(np.float64).sum(axis=0)
        n = float(h * w)
        rows.append({"media_id": int(mid), "width": int(w), "height": int(h),
                     "mean_r": s[0] / n, "mean_g": s[1] / n, "mean_b": s[2] / n})
    out = pd.DataFrame(rows)
    out["media_id"] = out["media_id"].astype(np.int64)
    out["width"] = out["width"].astype(np.int32)
    out["height"] = out["height"].astype(np.int32)
    return out


def pca_twin(k: int = 4) -> pd.DataFrame:
    """Spark-free twin of operators/pca.pca_project on the sf0.01
    embeddings: same floor(x*2^20+0.5) quantization, same exact-int
    moments (kernel.pca_core — arbitrary-precision combine), same Jacobi eigh +
    sign convention, same sequential-fold projection. A driver hash match
    is a differential over the mapInPandas partial-moment plumbing, the
    decimal(38,0) combine, and the literal/broadcast projection paths."""
    from yatsm_spark.kernel.pca_core import (
        loadings_from_moments,
        moments_from_quantized,
        quantize,
    )
    from yatsm_spark.kernel.vecmath import seq_dot

    df = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{EMB}') ORDER BY vec_id"
    ).df()
    ids = df["vec_id"].to_numpy(dtype=np.int64)
    V = np.stack([np.asarray(v, dtype=np.float64) for v in df["embedding"]])
    n, S, tri = moments_from_quantized(quantize(V))
    mean, comps, _eig = loadings_from_moments(n, S, tri, k)
    Y = seq_dot(V - np.asarray(mean), comps.T)
    out = {"vec_id": ids}
    for c in range(k):
        out[f"pc_{c}"] = Y[:, c]
    return pd.DataFrame(out)


def pq_twin(m: int = 8, ksub: int = 16, n_iters: int = 5,
            query_ids=tuple(range(10)), k: int = 5):
    """Spark-free twin of operators/pq: same kernel core
    (kernel/pq_core.py — seq-fold distances, id-ordered member means,
    lowest-index ties), same grid snap, same (adist, neighbor_id)
    ranking. Returns (codes_df, topk_df); a driver hash match is a
    differential over the sample collect, broadcast round-trips, Arrow
    batching, and the ranking window."""
    from yatsm_spark.kernel.pq_core import (
        pq_adc_core,
        pq_encode_core,
        pq_lut,
        pq_train_core,
    )

    df = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{EMB}') ORDER BY vec_id"
    ).df()
    ids = df["vec_id"].to_numpy(dtype=np.int64)
    V = np.stack([np.asarray(v, dtype=np.float64) for v in df["embedding"]])
    books = pq_train_core(V, m, ksub, n_iters)
    codes = pq_encode_core(V, books)
    codes_df = pd.DataFrame({
        "vec_id": ids, "code": [row.tolist() for row in codes]})

    qsel = np.isin(ids, np.asarray(query_ids))
    lut = pq_lut(V[qsel], books)
    rows = []
    for qi, qid in enumerate(ids[qsel]):
        acc = pq_adc_core(codes.astype(np.int64), lut[qi])
        snapped = np.floor(acc * 1e6 + 0.5) / 1e6
        keep = ids != qid
        order = np.lexsort((ids[keep], snapped[keep]))[:k]
        nb, dist = ids[keep][order], snapped[keep][order]
        for rank, (n_, d_) in enumerate(zip(nb, dist), start=1):
            rows.append({"query_id": int(qid), "neighbor_id": int(n_),
                         "adist": float(d_), "rank": np.int32(rank)})
    topk_df = pd.DataFrame(rows)
    topk_df["rank"] = topk_df["rank"].astype(np.int32)
    return codes_df, topk_df



def ivfpq_twin(n_centroids: int = 8, m: int = 8, ksub: int = 16,
               n_iters: int = 5, query_ids=tuple(range(10)),
               nprobe: int = 2, k: int = 5) -> pd.DataFrame:
    """Spark-free twin of operators/pq.ivfpq_topk: same coarse quantizer
    (pq_train_core with one subspace), same raw-vector PQ books, same
    probe order (distance, lowest cluster id), same snapped-ADC ranking
    over ONLY the probed lists' members."""
    from yatsm_spark.kernel.pq_core import (
        pq_adc_core,
        pq_encode_core,
        pq_lut,
        pq_train_core,
    )
    from yatsm_spark.kernel.vecmath import seq_sqdist

    df = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{EMB}') ORDER BY vec_id"
    ).df()
    ids = df["vec_id"].to_numpy(dtype=np.int64)
    V = np.stack([np.asarray(v, dtype=np.float64) for v in df["embedding"]])
    coarse = pq_train_core(V, 1, n_centroids, n_iters)[0]
    books = pq_train_core(V, m, ksub, n_iters)
    clusters = np.argmin(seq_sqdist(V, coarse), axis=1)
    codes = pq_encode_core(V, books).astype(np.int64)

    qsel = np.isin(ids, np.asarray(query_ids))
    Q, qids = V[qsel], ids[qsel]
    cdist = seq_sqdist(Q, coarse)
    lut = pq_lut(Q, books)
    rows = []
    for qi, qid in enumerate(qids):
        probes = np.lexsort((np.arange(n_centroids), cdist[qi]))[:nprobe]
        cand = np.isin(clusters, probes) & (ids != qid)
        acc = pq_adc_core(codes[cand], lut[qi])
        snapped = np.floor(acc * 1e6 + 0.5) / 1e6
        order = np.lexsort((ids[cand], snapped))[:k]
        for rank, o in enumerate(order, start=1):
            rows.append({"query_id": int(qid),
                         "neighbor_id": int(ids[cand][o]),
                         "adist": float(snapped[o]),
                         "rank": np.int32(rank)})
    out = pd.DataFrame(rows)
    out["rank"] = out["rank"].astype(np.int32)
    return out



def lttb_twin(conv_max: str = "conv00000100", n_out: int = 64) -> pd.DataFrame:
    """tx_lttb twin: the sparse 1m tier recomputed in DuckDB, each conv
    downsampled by the SAME kernel (kernel/downsample.py::lttb_frame)
    the Spark operator calls — the differential covers the applyInPandas
    grouping, per-group ordering, and Arrow round-trip."""
    from yatsm_spark.kernel.downsample import lttb_frame

    tier = duckdb.sql(f"""
        SELECT conv_id,
               to_timestamp((floor(epoch(ts)/60)*60)::bigint)::timestamp AS window_start,
               count(*)::long AS turn_count
        FROM read_parquet('{TX}/*.parquet')
        WHERE conv_id < '{conv_max}'
        GROUP BY 1, 2 ORDER BY conv_id, window_start
    """).df()
    outs = []
    for conv, g in tier.groupby("conv_id", sort=True):
        g = g.reset_index(drop=True)
        ts_ns = g["window_start"].astype("datetime64[ns]").astype("int64")
        sel, pos = lttb_frame(ts_ns.to_numpy(), g["turn_count"].to_numpy(),
                              n_out)
        o = g.iloc[sel][["conv_id", "window_start", "turn_count"]] \
             .reset_index(drop=True)
        o["pos"] = pos
        outs.append(o)
    return pd.concat(outs, ignore_index=True)


def matrix_profile_twin(conv_max: str = "conv00000200",
                        m: int = 12) -> pd.DataFrame:
    """tx_matrix_profile twin: the DENSE 1h tier recomputed in DuckDB
    (the exact grid shape the green tx_acf/tx_holtwinters oracle rows
    pin), each conv profiled by the SAME kernel
    (kernel/matrixprofile.py::matrix_profile_core) the Spark operator
    calls — the differential covers the applyInPandas grouping,
    densify lineage, per-group ordering, and Arrow null round-trip."""
    from yatsm_spark.kernel.matrixprofile import matrix_profile_core

    tier = duckdb.sql(f"""
        WITH r0 AS (
          SELECT conv_id,
                 to_timestamp((floor(epoch(ts)/3600)*3600)::bigint)
                   ::timestamp AS ws,
                 count(*)::long AS x
          FROM read_parquet('{TX}/*.parquet')
          WHERE conv_id < '{conv_max}'
          GROUP BY 1, 2),
        spans AS (SELECT conv_id, min(ws) AS w0, max(ws) AS w1
                  FROM r0 GROUP BY 1),
        grid AS (SELECT spans.conv_id,
                        unnest(generate_series(w0, w1, INTERVAL 1 HOUR))
                          AS ws
                 FROM spans)
        SELECT grid.conv_id AS conv_id, grid.ws AS window_start,
               coalesce(r0.x, 0)::long AS turn_count
        FROM grid LEFT JOIN r0
          ON grid.conv_id = r0.conv_id AND grid.ws = r0.ws
        ORDER BY grid.conv_id, grid.ws
    """).df()
    outs = []
    for conv, g in tier.groupby("conv_id", sort=True):
        g = g.reset_index(drop=True)
        L = len(g) - m + 1
        if L <= 0:
            continue
        mp, mpi = matrix_profile_core(
            g["turn_count"].to_numpy(np.int64), m)
        outs.append(pd.DataFrame({
            "conv_id": conv,
            "idx": np.arange(L, dtype=np.int64),
            "window_start": g["window_start"].iloc[:L].to_numpy(),
            "mp": pd.array([None if not np.isfinite(v) else float(v)
                            for v in mp], dtype="Float64"),
            "mp_idx": pd.array([None if v < 0 else int(v) for v in mpi],
                               dtype="Int64"),
        }))
    return pd.concat(outs, ignore_index=True)


def pelt_twin(conv_max: str = "conv00000200") -> pd.DataFrame:
    """tx_pelt twin: the dense 1h tier recomputed in DuckDB, each conv
    segmented by the SAME kernel (kernel/pelt.py::pelt_core, default
    per-series penalty) the Spark operator calls."""
    from yatsm_spark.kernel.pelt import pelt_core

    tier = duckdb.sql(f"""
        WITH r0 AS (
          SELECT conv_id,
                 to_timestamp((floor(epoch(ts)/3600)*3600)::bigint)
                   ::timestamp AS ws,
                 count(*)::long AS x
          FROM read_parquet('{TX}/*.parquet')
          WHERE conv_id < '{conv_max}'
          GROUP BY 1, 2),
        spans AS (SELECT conv_id, min(ws) AS w0, max(ws) AS w1
                  FROM r0 GROUP BY 1),
        grid AS (SELECT spans.conv_id,
                        unnest(generate_series(w0, w1, INTERVAL 1 HOUR))
                          AS ws
                 FROM spans)
        SELECT grid.conv_id AS conv_id, grid.ws AS window_start,
               coalesce(r0.x, 0)::long AS turn_count
        FROM grid LEFT JOIN r0
          ON grid.conv_id = r0.conv_id AND grid.ws = r0.ws
        ORDER BY grid.conv_id, grid.ws
    """).df()
    outs = []
    for conv, g in tier.groupby("conv_id", sort=True):
        g = g.reset_index(drop=True)
        cps = pelt_core(g["turn_count"].to_numpy(np.int64))
        if cps.size == 0:
            continue
        outs.append(pd.DataFrame({
            "conv_id": conv,
            "cp_ord": np.arange(1, cps.size + 1, dtype=np.int64),
            "idx": cps,
            "window_start": g["window_start"].iloc[cps].to_numpy(),
            "n_changepoints": np.int64(cps.size),
        }))
    return pd.concat(outs, ignore_index=True)


def dtw_twin(conv_max: str = "conv00000100") -> pd.DataFrame:
    """tx_dtw_rerank twin: dense 1h tier + SAX letters recomputed with
    the SAME snapped SQL formulas the green tx_sax row pins, words
    assembled by ordered string_agg, candidate pairs self-joined, and
    each pair re-ranked by the SAME integer DTW kernel
    (kernel/dtw.py::dtw_core) the Spark operator calls — integer DP,
    so the distances are exact by construction."""
    from yatsm_spark.kernel.dtw import dtw_core

    con = duckdb.connect()
    con.execute(f"""
        CREATE TEMP TABLE dense AS
        WITH r0 AS (
          SELECT conv_id,
                 to_timestamp((floor(epoch(ts)/3600)*3600)::bigint)
                   ::timestamp AS ws,
                 count(*)::hugeint AS x
          FROM read_parquet('{TX}/*.parquet')
          WHERE conv_id < '{conv_max}'
          GROUP BY 1, 2),
        spans AS (SELECT conv_id, min(ws) AS w0, max(ws) AS w1
                  FROM r0 GROUP BY 1),
        grid AS (SELECT spans.conv_id,
                        unnest(generate_series(w0, w1, INTERVAL 1 HOUR))
                          AS ws
                 FROM spans)
        SELECT grid.conv_id AS conv_id, grid.ws AS ws,
               coalesce(r0.x, 0)::hugeint AS x
        FROM grid LEFT JOIN r0
          ON grid.conv_id = r0.conv_id AND grid.ws = r0.ws
    """)
    pairs = con.execute("""
        WITH ix AS (
          SELECT conv_id, x,
                 row_number() OVER (PARTITION BY conv_id
                                    ORDER BY ws) - 1 AS i,
                 count(*) OVER (PARTITION BY conv_id)::hugeint AS n,
                 sum(x) OVER (PARTITION BY conv_id)::hugeint AS sx,
                 sum(x*x) OVER (PARTITION BY conv_id)::hugeint AS sxx
          FROM dense),
        sg AS (
          SELECT conv_id,
                 floor((i * 16)::double / n::double)::int AS seg,
                 count(*)::long AS n_in_seg, sum(x)::hugeint AS sp,
                 min(n) AS n, min(sx) AS sx, min(sxx) AS sxx
          FROM ix GROUP BY 1, 2),
        fin AS (
          SELECT conv_id, seg,
                 floor((sp::double / n_in_seg::double)*1e6 + 0.5)/1e6
                   AS paa,
                 floor((sx::double / n::double)*1e6 + 0.5)/1e6 AS mean,
                 floor(((n*sxx - sx*sx)::double / (n*n)::double)
                       *1e6 + 0.5)/1e6 AS var
          FROM sg),
        lets AS (
          SELECT conv_id, seg,
               CASE WHEN var > 0 THEN substr('abcd',
                 1 + (CASE WHEN (paa - mean)/sqrt(var) >= -0.6745
                           THEN 1 ELSE 0 END
                      + CASE WHEN (paa - mean)/sqrt(var) >= 0.0
                             THEN 1 ELSE 0 END
                      + CASE WHEN (paa - mean)/sqrt(var) >= 0.6745
                             THEN 1 ELSE 0 END), 1) END AS letter
          FROM fin),
        w AS (
          SELECT conv_id, string_agg(letter, '' ORDER BY seg) AS word
          FROM lets GROUP BY conv_id
          HAVING bool_and(letter IS NOT NULL)),
        w2 AS (
          SELECT * FROM w WHERE word NOT IN (
            SELECT word FROM w GROUP BY word HAVING count(*) > 64))
        SELECT a.conv_id AS conv_a, b.conv_id AS conv_b
        FROM w2 a JOIN w2 b
          ON a.word = b.word AND a.conv_id < b.conv_id
        ORDER BY conv_a, conv_b
    """).df()
    series = {
        conv: g.sort_values("ws")["x"].astype("int64").tolist()
        for conv, g in con.execute(
            "SELECT conv_id, ws, x FROM dense").df().groupby("conv_id")}
    rows = []
    for ca, cb in zip(pairs["conv_a"], pairs["conv_b"]):
        sa, sb = series[ca], series[cb]
        rows.append((ca, cb, len(sa), len(sb), dtw_core(sa, sb)))
    return pd.DataFrame(rows, columns=["conv_a", "conv_b", "len_a",
                                       "len_b", "dtw"]).astype(
        {"len_a": "int64", "len_b": "int64", "dtw": "int64"})


def bursts_twin(conv_max: str = "conv00000300", s: float = 3.0,
                gamma: float = 1.0) -> pd.DataFrame:
    """tx_bursts twin: sorted raw arrival times per conv from DuckDB,
    each conv run through the SAME kernel
    (kernel/bursts.py::kleinberg_bursts)."""
    from yatsm_spark.kernel.bursts import kleinberg_bursts

    ts = duckdb.sql(f"""
        SELECT conv_id, epoch_us(ts)::bigint AS t_us
        FROM read_parquet('{TX}/*.parquet')
        WHERE conv_id < '{conv_max}'
        ORDER BY conv_id, t_us
    """).df()
    rows = []
    for conv, g in ts.groupby("conv_id", sort=True):
        bursts = kleinberg_bursts(g["t_us"].to_numpy(np.int64), s, gamma)
        for k, (b0, b1, ne) in enumerate(bursts, start=1):
            rows.append((conv, k, b0, b1,
                         pd.Timestamp(b0, unit="us"),
                         pd.Timestamp(b1, unit="us"), ne))
    return pd.DataFrame(rows, columns=[
        "conv_id", "burst_ord", "start_us", "end_us",
        "burst_start", "burst_end", "n_events"]).astype(
        {"burst_ord": "int64", "start_us": "int64", "end_us": "int64",
         "n_events": "int64"})


def swing_twin(conv_max: str = "conv00000200", e: int = 2) -> pd.DataFrame:
    """tx_swing twin: sparse 1m tier from DuckDB, each conv compressed
    by the SAME kernel (kernel/swing.py::swing_compress) — integer
    cross-multiplication decisions, exact by construction."""
    from yatsm_spark.kernel.swing import swing_compress

    tier = duckdb.sql(f"""
        SELECT conv_id,
               to_timestamp((floor(epoch(ts)/60)*60)::bigint)::timestamp
                 AS window_start,
               count(*)::long AS turn_count
        FROM read_parquet('{TX}/*.parquet')
        WHERE conv_id < '{conv_max}'
        GROUP BY 1, 2 ORDER BY conv_id, window_start
    """).df()
    outs = []
    for conv, g in tier.groupby("conv_id", sort=True):
        g = g.reset_index(drop=True)
        t_us = g["window_start"].to_numpy(dtype="datetime64[us]") \
            .astype(np.int64)
        keep = swing_compress(t_us, g["turn_count"].to_numpy(np.int64), e)
        o = g.iloc[keep][["conv_id", "window_start", "turn_count"]] \
            .reset_index(drop=True)
        o["pos"] = np.arange(len(keep), dtype=np.int64)
        o["n_in"] = np.int64(len(g))
        outs.append(o)
    return pd.concat(outs, ignore_index=True)


def ab_twin(query_conv: str = "conv00000014",
            conv_max: str = "conv00000100", m: int = 12) -> pd.DataFrame:
    """tx_ab_profile twin: dense 1h tier from DuckDB, every non-query
    conv scored by the SAME kernel
    (kernel/matrixprofile.py::ab_best_match) against the query conv's
    series."""
    from yatsm_spark.kernel.matrixprofile import ab_best_match

    tier = duckdb.sql(f"""
        WITH r0 AS (
          SELECT conv_id,
                 to_timestamp((floor(epoch(ts)/3600)*3600)::bigint)
                   ::timestamp AS ws,
                 count(*)::long AS x
          FROM read_parquet('{TX}/*.parquet')
          WHERE conv_id < '{conv_max}'
          GROUP BY 1, 2),
        spans AS (SELECT conv_id, min(ws) AS w0, max(ws) AS w1
                  FROM r0 GROUP BY 1),
        grid AS (SELECT spans.conv_id,
                        unnest(generate_series(w0, w1, INTERVAL 1 HOUR))
                          AS ws
                 FROM spans)
        SELECT grid.conv_id AS conv_id, grid.ws AS window_start,
               coalesce(r0.x, 0)::long AS turn_count
        FROM grid LEFT JOIN r0
          ON grid.conv_id = r0.conv_id AND grid.ws = r0.ws
        ORDER BY grid.conv_id, grid.ws
    """).df()
    qarr = tier[tier.conv_id == query_conv].sort_values("window_start") \
        ["turn_count"].to_numpy(np.int64)
    rows = []
    for conv, g in tier.groupby("conv_id", sort=True):
        if conv == query_conv:
            continue
        g = g.reset_index(drop=True)
        if len(g) < m:
            continue
        best = ab_best_match(qarr, g["turn_count"].to_numpy(np.int64), m)
        if best is None:
            continue
        dist, qi, yj = best
        rows.append((conv, qi, yj, g["window_start"].iloc[yj], dist))
    return pd.DataFrame(rows, columns=[
        "conv_id", "q_idx", "c_idx", "window_start", "dist"]).astype(
        {"q_idx": "int64", "c_idx": "int64"})


def left_profile_twin(conv_max: str = "conv00000200", m: int = 12,
                      w_hist: int = 48) -> pd.DataFrame:
    """tx_left_profile twin: dense 1h tier from DuckDB, each conv
    scored by the SAME kernel (kernel/matrixprofile.py::left_profile)."""
    from yatsm_spark.kernel.matrixprofile import left_profile

    tier = duckdb.sql(f"""
        WITH r0 AS (
          SELECT conv_id,
                 to_timestamp((floor(epoch(ts)/3600)*3600)::bigint)
                   ::timestamp AS ws,
                 count(*)::long AS x
          FROM read_parquet('{TX}/*.parquet')
          WHERE conv_id < '{conv_max}'
          GROUP BY 1, 2),
        spans AS (SELECT conv_id, min(ws) AS w0, max(ws) AS w1
                  FROM r0 GROUP BY 1),
        grid AS (SELECT spans.conv_id,
                        unnest(generate_series(w0, w1, INTERVAL 1 HOUR))
                          AS ws
                 FROM spans)
        SELECT grid.conv_id AS conv_id, grid.ws AS window_start,
               coalesce(r0.x, 0)::long AS turn_count
        FROM grid LEFT JOIN r0
          ON grid.conv_id = r0.conv_id AND grid.ws = r0.ws
        ORDER BY grid.conv_id, grid.ws
    """).df()
    outs = []
    for conv, g in tier.groupby("conv_id", sort=True):
        g = g.reset_index(drop=True)
        L = len(g) - m + 1
        if L <= 0:
            continue
        lp, lpi = left_profile(g["turn_count"].to_numpy(np.int64),
                               m, w_hist)
        outs.append(pd.DataFrame({
            "conv_id": conv,
            "idx": np.arange(L, dtype=np.int64),
            "window_start": g["window_start"].iloc[:L].to_numpy(),
            "lp": pd.array([None if not np.isfinite(v) else float(v)
                            for v in lp], dtype="Float64"),
            "lp_idx": pd.array([None if v < 0 else int(v) for v in lpi],
                               dtype="Int64"),
        }))
    return pd.concat(outs, ignore_index=True)


def main() -> None:
    segs = segments_twin("conv00000300")
    seg_path = os.path.join(REPO, "data", "golden_segments_sf0.01.parquet")
    segs.to_parquet(seg_path, index=False)
    print(f"wrote {seg_path}: {len(segs)} rows")

    cls = classify_twin(segs)
    cls_path = os.path.join(REPO, "data", "golden_classify_sf0.01.parquet")
    cls.to_parquet(cls_path, index=False)
    print(f"wrote {cls_path}: {len(cls)} rows")

    cv = crossval_twin(segs)
    cv_path = os.path.join(REPO, "data", "golden_crossval_sf0.01.parquet")
    cv.to_parquet(cv_path, index=False)
    print(f"wrote {cv_path}: {len(cv)} rows")

    multi = segments_multi_twin("conv00000100")
    multi_path = os.path.join(REPO, "data", "golden_segments_multi_sf0.01.parquet")
    multi.to_parquet(multi_path, index=False)
    print(f"wrote {multi_path}: {len(multi)} rows")

    post = postprocess_twin("conv00000200", crit=3.0)
    post_path = os.path.join(REPO, "data", "golden_postprocess_sf0.01.parquet")
    post.to_parquet(post_path, index=False)
    print(f"wrote {post_path}: {len(post)} rows")

    refit = postprocess_twin("conv00000200", crit=None)
    refit_path = os.path.join(REPO, "data", "golden_refit_sf0.01.parquet")
    refit.to_parquet(refit_path, index=False)
    print(f"wrote {refit_path}: {len(refit)} rows")

    pheno = pheno_segments_twin("conv00000200")
    pheno_path = os.path.join(REPO, "data", "golden_pheno_segments_sf0.01.parquet")
    pheno.to_parquet(pheno_path, index=False)
    print(f"wrote {pheno_path}: {len(pheno)} rows")

    km = kmeans_twin(n_centroids=8, n_iters=3, seed=0, sample_mod=1)
    km_path = os.path.join(REPO, "data", "golden_kmeans_sf0.01.parquet")
    km.to_parquet(km_path, index=False)
    print(f"wrote {km_path}: {len(km)} rows")

    jp = jpeg_twin()
    jp_path = os.path.join(REPO, "data", "golden_jpeg_sf0.01.parquet")
    jp.to_parquet(jp_path, index=False)
    print(f"wrote {jp_path}: {len(jp)} rows")

    pca = pca_twin(k=4)
    pca_path = os.path.join(REPO, "data", "golden_pca_sf0.01.parquet")
    pca.to_parquet(pca_path, index=False)
    print(f"wrote {pca_path}: {len(pca)} rows")

    pq_codes, pq_topk = pq_twin()
    for name, frame in [("pq_codes", pq_codes), ("pq_topk", pq_topk)]:
        path = os.path.join(REPO, "data", f"golden_{name}_sf0.01.parquet")
        frame.to_parquet(path, index=False)
        print(f"wrote {path}: {len(frame)} rows")

    ivfpq = ivfpq_twin()
    path = os.path.join(REPO, "data", "golden_ivfpq_sf0.01.parquet")
    ivfpq.to_parquet(path, index=False)
    print(f"wrote {path}: {len(ivfpq)} rows")

    lt = lttb_twin()
    path = os.path.join(REPO, "data", "golden_lttb_sf0.01.parquet")
    lt.to_parquet(path, index=False)
    print(f"wrote {path}: {len(lt)} rows")

    mp = matrix_profile_twin()
    path = os.path.join(REPO, "data", "golden_mp_sf0.01.parquet")
    mp.to_parquet(path, index=False)
    print(f"wrote {path}: {len(mp)} rows")

    pl = pelt_twin()
    path = os.path.join(REPO, "data", "golden_pelt_sf0.01.parquet")
    pl.to_parquet(path, index=False)
    print(f"wrote {path}: {len(pl)} rows")

    dt = dtw_twin()
    path = os.path.join(REPO, "data", "golden_dtw_sf0.01.parquet")
    dt.to_parquet(path, index=False)
    print(f"wrote {path}: {len(dt)} rows")

    bu = bursts_twin()
    path = os.path.join(REPO, "data", "golden_bursts_sf0.01.parquet")
    bu.to_parquet(path, index=False)
    print(f"wrote {path}: {len(bu)} rows")

    sw = swing_twin()
    path = os.path.join(REPO, "data", "golden_swing_sf0.01.parquet")
    sw.to_parquet(path, index=False)
    print(f"wrote {path}: {len(sw)} rows")

    ab = ab_twin()
    path = os.path.join(REPO, "data", "golden_ab_sf0.01.parquet")
    ab.to_parquet(path, index=False)
    print(f"wrote {path}: {len(ab)} rows")

    lp = left_profile_twin()
    path = os.path.join(REPO, "data", "golden_lp_sf0.01.parquet")
    lp.to_parquet(path, index=False)
    print(f"wrote {path}: {len(lp)} rows")

    ka = kalman_twin()
    path = os.path.join(REPO, "data", "golden_kalman_sf0.01.parquet")
    ka.to_parquet(path, index=False)
    print(f"wrote {path}: {len(ka)} rows")




def kalman_twin(conv_max: str = "conv00000200",
                q: float = 1.0, r: float = 4.0) -> pd.DataFrame:
    """tx_kalman twin: the dense 1h tier recomputed in DuckDB, each conv
    filtered+smoothed by the SAME kernel (kernel/kalman.py) the Spark
    operator calls — NO Spark in the loop."""
    from yatsm_spark.kernel.kalman import kalman_local_level

    tier = duckdb.sql(f"""
        WITH r0 AS (
          SELECT conv_id,
                 to_timestamp((floor(epoch(ts)/3600)*3600)::bigint)
                   ::timestamp AS ws,
                 count(*)::long AS x
          FROM read_parquet('{TX}/*.parquet')
          WHERE conv_id < '{conv_max}'
          GROUP BY 1, 2),
        spans AS (SELECT conv_id, min(ws) AS w0, max(ws) AS w1
                  FROM r0 GROUP BY 1),
        grid AS (SELECT spans.conv_id,
                        unnest(generate_series(w0, w1, INTERVAL 1 HOUR))
                          AS ws
                 FROM spans)
        SELECT grid.conv_id AS conv_id, grid.ws AS window_start,
               coalesce(r0.x, 0)::long AS turn_count
        FROM grid LEFT JOIN r0
          ON grid.conv_id = r0.conv_id AND grid.ws = r0.ws
        ORDER BY grid.conv_id, grid.ws
    """).df()
    outs = []
    for conv, g in tier.groupby("conv_id", sort=True):
        g = g.reset_index(drop=True)
        level, var, smooth = kalman_local_level(
            g["turn_count"].to_numpy(np.float64), q=q, r=r)
        outs.append(pd.DataFrame({
            "conv_id": conv,
            "window_start": g["window_start"],
            "turn_count": g["turn_count"],
            "kalman_level": level,
            "kalman_var": var,
            "kalman_smooth": smooth,
        }))
    return pd.concat(outs, ignore_index=True)


if __name__ == "__main__":
    main()
