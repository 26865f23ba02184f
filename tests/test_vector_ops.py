"""Tests for the vector-compression batch (queries/vector_ops.py):
semantic invariants against independent numpy reimplementations, plus
plan-shape assertions for the scale-critical pieces (oracle parity is
covered by tools/check_oracle.py and the driver gate)."""

import numpy as np

from big_datatrader_spark.queries import load_registry
from big_datatrader_spark.queries.vector_ops import (
    _PQ_K, _PQ_M, _PQ_NQ, _PQ_SUB, _SCALE, _SD_K)
from big_datatrader_spark.sources.parquet_source import table

REG = load_registry()
SF = "/root/testdata/sf0.001"


def _vecs(spark):
    pdf = table(spark, SF, "embeddings").select(
        "vec_id", "embedding").toPandas().sort_values("vec_id")
    V = np.vstack(pdf.embedding.to_numpy()).astype(np.float64)
    Q = np.round(V * _SCALE).astype(np.int64)
    return pdf.vec_id.to_numpy(), Q


def test_semdedup_cluster_assignment_and_drop_rule(spark):
    out = REG["semdedup_embeddings"].spark_fn(spark, SF).toPandas()
    ids, Q = _vecs(spark)
    assert (out.vec_id.to_numpy() == ids).all()  # every vector, ordered

    # independent integer nearest-centroid assignment
    C = Q[:_SD_K]
    d2 = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    assert (out.cluster.to_numpy() == d2.argmin(axis=1)).all()

    # drop rule: kept=False iff a lower-id same-cluster mate has
    # cos >= 0.35 (exact cross-multiplied integers, HUGEINT-wide)
    n2 = (Q.astype(object) ** 2).sum(axis=1)
    dots = Q.astype(object) @ Q.T.astype(object)
    clus = out.cluster.to_numpy()
    expect_dropped = set()
    for b in range(len(ids)):
        for a in range(b):
            if clus[a] != clus[b]:
                continue
            d = dots[a, b]
            if d > 0 and d * d * 400 >= 49 * n2[a] * n2[b]:
                expect_dropped.add(ids[b])
                break
    assert set(out[~out.kept].vec_id) == expect_dropped
    # centroid seeds can never be dropped by anything earlier... unless
    # a lower-id seed in the same cluster is near-identical; at minimum
    # vec 0 is always kept
    assert out[out.vec_id == 0].kept.all()


def test_pq_codes_match_numpy_argmin(spark):
    out = REG["embedding_pq_codes"].spark_fn(spark, SF).toPandas()
    ids, Q = _vecs(spark)
    S = Q.reshape(len(ids), _PQ_M, _PQ_SUB)
    CB = S[:_PQ_K]  # (K, M, SUB)
    # (n, M, K) exact integer distances
    d2 = ((S[:, :, None, :] - CB.transpose(1, 0, 2)[None, :, :, :]) ** 2
          ).sum(axis=3)
    codes = d2.argmin(axis=2)  # ties -> lowest code, same as the query
    got = out.pivot(index="vec_id", columns="m",
                    values="code").to_numpy()
    assert (got == codes).all()
    # sq_err equals the distance at the chosen code
    errs = out.pivot(index="vec_id", columns="m",
                     values="sq_err_scaled").to_numpy()
    assert (errs == np.take_along_axis(
        d2, codes[:, :, None], axis=2)[:, :, 0]).all()


def test_adc_topk_is_exact_over_the_code_approximation(spark):
    out = REG["ann_pq_adc_topk"].spark_fn(spark, SF).toPandas()
    ids, Q = _vecs(spark)
    S = Q.reshape(len(ids), _PQ_M, _PQ_SUB)
    CB = S[:_PQ_K]
    d2 = ((S[:, :, None, :] - CB.transpose(1, 0, 2)[None, :, :, :]) ** 2
          ).sum(axis=3)
    codes = d2.argmin(axis=2)
    for qi in range(_PQ_NQ):
        # exact ADC distance: sum over subspaces of d(query_sub, codeword)
        lut = ((S[qi][:, None, :] - CB.transpose(1, 0, 2)) ** 2).sum(
            axis=2)  # (M, K)
        adc = lut[np.arange(_PQ_M)[None, :], codes].sum(axis=1)
        order = [i for i in np.lexsort((ids, adc)) if ids[i] >= _PQ_NQ]
        mine = out[out.query_id == qi].sort_values("rank")
        assert list(mine.neighbor_id) == [ids[i] for i in order[:10]]
        assert list(mine.adc_dist_scaled) == [int(adc[i])
                                              for i in order[:10]]


def test_doc_chunking_roundtrip_and_overlap(spark):
    out = REG["doc_chunking"].spark_fn(spark, SF).toPandas()
    docs = table(spark, SF, "documents").select(
        "doc_id", "text").toPandas()
    toks = {r.doc_id: r.text.strip().lower().split()
            for r in docs.itertuples() if r.text.strip()}
    # chunk 0 of each doc starts at token 0; strides overlap by 8
    for doc_id, grp in out.groupby("doc_id"):
        t = toks[doc_id]
        grp = grp.sort_values("chunk_id")
        assert list(grp.chunk_id) == list(range(len(grp)))
        for r in grp.itertuples():
            start = r.chunk_id * 24
            expect = t[start:start + 32]
            assert r.chunk_text.split() == expect
            assert r.n_chunk_tokens == len(expect)
    # every non-empty doc chunked; token coverage is complete
    assert set(out.doc_id) == set(toks)


def test_vector_plans_broadcast_and_no_cartesian(spark):
    from big_datatrader_spark.plans.explain import physical_plan
    for name in ("semdedup_embeddings", "embedding_pq_codes",
                 "ann_pq_adc_topk"):
        plan = physical_plan(REG[name].spark_fn(spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_integer_exact_ops_partition_invariant(spark, monkeypatch):
    """The whole point of the integer-exact designs: identical results
    at ANY partitioning. Rerun with adversarial shuffle-partition
    counts (via SPARK_GRAFT_CPUS — ensure_confs re-derives the conf
    from it inside every query, so setting the conf directly would be
    silently reverted) and compare bit-for-bit."""
    from conftest import session_width
    for name in ("semdedup_embeddings", "embedding_pq_codes",
                 "linreg_trend_per_user"):
        base = REG[name].spark_fn(spark, SF).toPandas()
        for p in (1, 7):
            with session_width(spark, monkeypatch, p):
                again = REG[name].spark_fn(spark, SF).toPandas()
                assert spark.conf.get(
                    "spark.sql.shuffle.partitions") == str(p)
            assert base.equals(again), (name, p)


def _lloyd_numpy(Q, n_iter):
    """Independent per-subspace Lloyd replay with exact Python-int
    means (round half away from zero)."""
    S = Q.reshape(len(Q), _PQ_M, _PQ_SUB)
    cbs = S[:_PQ_K].transpose(1, 0, 2).copy()          # (M, K, SUB)
    for _ in range(n_iter):
        d = ((S[:, :, None, :] - cbs[None]) ** 2).sum(axis=-1)
        codes = d.argmin(axis=-1)                      # (n, M)
        for m in range(_PQ_M):
            for k in range(_PQ_K):
                mem = S[codes[:, m] == k, m, :]
                if len(mem) == 0:
                    continue
                for si in range(_PQ_SUB):
                    s = int(mem[:, si].astype(object).sum())
                    c = len(mem)
                    r = ((2 * s + c) // (2 * c) if s >= 0
                         else -((2 * (-s) + c) // (2 * c)))
                    cbs[m, k, si] = r
    return cbs


def test_pq_trained_fit_matches_numpy_replay_and_reduces_distortion(spark):
    from big_datatrader_spark.functions.pq import fit_pq_codebooks
    from big_datatrader_spark.queries.vector_ops import (
        _PQ_ITERS, _emb_quantized)
    ids, Q = _vecs(spark)
    expect = _lloyd_numpy(Q, _PQ_ITERS)
    got = np.array(
        fit_pq_codebooks(_emb_quantized(spark, SF), m=_PQ_M,
                         sub=_PQ_SUB, k=_PQ_K, n_iter=_PQ_ITERS))
    assert (got == expect).all()

    # Lloyd monotonically reduces quantization distortion vs the seed
    seed = REG["embedding_pq_codes"].spark_fn(spark, SF).toPandas()
    trained = REG["embedding_pq_trained_codes"].spark_fn(
        spark, SF).toPandas()
    assert trained.sq_err_scaled.sum() < seed.sq_err_scaled.sum()


def test_pq_trained_fit_is_partition_invariant(spark):
    from big_datatrader_spark.functions.pq import fit_pq_codebooks
    from big_datatrader_spark.queries.vector_ops import (
        _PQ_ITERS, _emb_quantized)
    base = _emb_quantized(spark, SF)
    a = fit_pq_codebooks(base.repartition(1), m=_PQ_M, sub=_PQ_SUB,
                         k=_PQ_K, n_iter=_PQ_ITERS)
    b = fit_pq_codebooks(base.repartition(13), m=_PQ_M, sub=_PQ_SUB,
                         k=_PQ_K, n_iter=_PQ_ITERS)
    assert a == b


def test_adc_trained_recall_vs_exact_l2(spark):
    """ADC must track true L2 far above chance. On this synthetic
    corpus the embeddings are near-isotropic, so recall@10 for ANY
    M=8/K=16 codebook sits around 12-20 of 50 (measured across seeds
    and iteration counts) while a random top-10 would overlap the
    exact top-10 by < 1 of 50 in expectation — the gate is the
    tracking claim, not codebook quality. Training quality is gated
    separately on distortion (the Lloyd objective), which strictly
    decreases; recall on isotropic data is noise around that."""
    ids, Q = _vecs(spark)
    corpus = Q[_PQ_NQ:]
    cids = ids[_PQ_NQ:]

    def recall(df):
        out = df.toPandas()
        hits = 0
        for qi in range(_PQ_NQ):
            d = ((corpus - Q[qi][None, :]) ** 2).sum(axis=1)
            order = np.lexsort((cids, d))
            exact = set(cids[order[:10]])
            got = set(out[out.query_id == qi].neighbor_id)
            hits += len(exact & got)
        return hits

    trained = recall(REG["ann_pq_adc_trained_topk"].spark_fn(spark, SF))
    assert trained >= 8, trained   # ~8 sigma above the <1 chance level


def test_pq_vs_exact_eval_recall_rows(spark):
    """The ADC recall audit (VERDICT r7 ask #2): one row per query,
    n_hit in [0, 10], recall6 is exactly the round-half-up of
    n_hit/10, and the aggregate recall clears the same tracking gate
    as test_adc_trained_recall_vs_exact_l2 (chance overlap < 1)."""
    out = REG["pq_vs_exact_eval"].spark_fn(spark, SF).toPandas()
    assert len(out) == 5 and list(out.query_id) == [0, 1, 2, 3, 4]
    assert ((out.n_hit >= 0) & (out.n_hit <= 10)).all()
    for r in out.itertuples():
        assert abs(r.recall6 - r.n_hit / 10.0) < 1e-9
    assert out.n_hit.sum() >= 8, out.n_hit.sum()


def test_ivf_vs_exact_eval_probe_sweep(spark):
    """Probe-depth recall curve: full probe (n_probe = n_lists = 8)
    must be EXACT (recall 1.0 for every query) and per-query recall
    must be monotone non-decreasing in n_probe (probed lists nest)."""
    out = REG["ivf_vs_exact_eval"].spark_fn(spark, SF).toPandas()
    assert len(out) == 20  # 4 probe depths x 5 queries
    full = out[out.n_probe == 8]
    assert (full.n_hit == 5).all() and (full.recall6 == 1.0).all()
    for q in range(5):
        seq = out[out.query_id == q].sort_values("n_probe")
        hits = list(seq.n_hit)
        assert hits == sorted(hits), (q, hits)
