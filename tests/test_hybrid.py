"""Semantic invariants for the hybrid-retrieval family (queries/
hybrid.py) — properties the oracle's value-equality can't express:
rank-list shape, RRF arithmetic re-derivation, relevance-count bounds,
and a full Python greedy replay of the MMR selection."""

from collections import defaultdict

import math


def _rha(x):
    # SQL round() semantics — half AWAY from zero (python round() is
    # half-even: latently flaky on tie-producing data; ADVICE r12,
    # same helper contract as tests/test_pca.py's _round_half_away)
    return int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)


from pyspark.sql import functions as F

from etl_mp_transactions_spark.queries.hybrid import (
    _K_ARM,
    _K_FUSED,
    _MMR_K,
    _NQ,
    _RRF_K,
    hybrid_fusion_gain,
    hybrid_lexical_topk,
    hybrid_mmr_rerank,
    hybrid_rrf_fusion,
)


def test_lexical_arm_rank_lists(spark, sf_dir):
    rows = hybrid_lexical_topk(spark, sf_dir).collect()
    by_q = defaultdict(list)
    for r in rows:
        assert 0 <= r.query_id < _NQ
        assert r.doc_id != r.query_id, "no self-retrieval"
        assert r.bm25_nano > 0
        by_q[r.query_id].append(r)
    assert set(by_q) == set(range(_NQ))
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.r_lex)
        assert [r.r_lex for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= _K_ARM
        # ranks follow (bm25_nano desc, doc_id) exactly
        keys = [(-r.bm25_nano, r.doc_id) for r in rs]
        assert keys == sorted(keys)


def test_rrf_fusion_arithmetic(spark, sf_dir):
    rows = hybrid_rrf_fusion(spark, sf_dir).collect()
    by_q = defaultdict(list)
    for r in rows:
        # re-derive the RRF score from the carried arm ranks
        expect = 0
        for rank in (r.r_lex, r.r_sem):
            assert 0 <= rank <= _K_ARM
            if rank:
                expect += _rha(1e9 / (_RRF_K + rank))
        assert r.rrf_nano == expect
        assert r.r_lex > 0 or r.r_sem > 0
        by_q[r.query_id].append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.fused_rank)
        assert [r.fused_rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= _K_FUSED
        keys = [(-r.rrf_nano, r.doc_id) for r in rs]
        assert keys == sorted(keys)


def test_fusion_gain_bounds(spark, sf_dir):
    rows = hybrid_fusion_gain(spark, sf_dir).collect()
    assert len(rows) == _NQ
    for r in rows:
        for h in (r.hits_lex, r.hits_sem, r.hits_rrf):
            assert 0 <= h <= _K_FUSED
        assert r.fused_ok == (r.hits_rrf >= max(r.hits_lex, r.hits_sem))


def test_mmr_python_greedy_replay(spark, sf_dir):
    """Re-run the greedy MMR selection in plain Python from the fused
    pool and pairwise quantized-L2 sims; the engine's picks and scores
    must match exactly."""
    fused = {
        (r.query_id, r.doc_id): r.rrf_nano
        for r in hybrid_rrf_fusion(spark, sf_dir).collect()
    }
    emb = {
        r.vec_id: [_rha(x * 1e6) for x in r.embedding]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    }
    pool = defaultdict(dict)  # q -> doc -> reln
    for (q, d), rrf in fused.items():
        if d in emb:
            pool[q][d] = rrf
    for q in pool:
        m = max(pool[q].values())
        pool[q] = {d: _rha(1e9 * (v / m)) for d, v in pool[q].items()}

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(emb[a], emb[b]))

    expected = []
    for q, cands in pool.items():
        docs = sorted(cands)
        md = max(
            (d2(a, b) for a in docs for b in docs if a != b), default=0
        )

        def simn(a, b):
            return (
                1_000_000_000
                if md == 0
                else _rha(1e9 * ((md - d2(a, b)) / md))
            )

        first = max(docs, key=lambda d: (cands[d], -d))
        sel = [first]
        expected.append((q, 1, first, 7 * cands[first]))
        for step in range(2, _MMR_K + 1):
            rem = [d for d in docs if d not in sel]
            if not rem:
                break
            scored = {
                d: 7 * cands[d] - 3 * max(simn(d, s) for s in sel)
                for d in rem
            }
            best = max(rem, key=lambda d: (scored[d], -d))
            sel.append(best)
            expected.append((q, step, best, scored[best]))

    got = sorted(
        (r.query_id, r.pick_step, r.doc_id, r.mmr_score)
        for r in hybrid_mmr_rerank(spark, sf_dir).collect()
    )
    assert got == sorted(expected)


def test_mmr_picks_are_distinct_pool_members(spark, sf_dir):
    picks = hybrid_mmr_rerank(spark, sf_dir).collect()
    fused_docs = {
        (r.query_id, r.doc_id)
        for r in hybrid_rrf_fusion(spark, sf_dir).collect()
    }
    seen = set()
    for r in picks:
        assert (r.query_id, r.doc_id) not in seen, "duplicate pick"
        seen.add((r.query_id, r.doc_id))
        assert (r.query_id, r.doc_id) in fused_docs
        assert 1 <= r.pick_step <= _MMR_K


def test_arm_topk_two_phase_matches_single_window(spark, sf_dir):
    """The two-phase per-query top-k must equal the naive single
    window (exactness of the partial-top-k shape)."""
    from pyspark.sql import Window

    from etl_mp_transactions_spark.queries.hybrid import _sem_arm_build

    got = _sem_arm_build(spark, sf_dir)
    base = got.select("query_id", "doc_id", "d2")
    w = Window.partitionBy("query_id").orderBy("d2", "doc_id")
    # got is already the top-K_ARM; ranking it again must be a no-op
    re_ranked = base.withColumn(
        "r", F.row_number().over(w).cast("long")
    )
    joined = got.join(re_ranked, ["query_id", "doc_id", "d2"])
    assert joined.filter(F.col("r_sem") != F.col("r")).count() == 0


def test_mrr_consistent_with_lists(spark, sf_dir):
    """Re-derive each reciprocal rank from the raw lists + labels."""
    from etl_mp_transactions_spark.queries.hybrid import (
        _lex_arm_build,
        _sem_arm_build,
        hybrid_mrr_eval,
    )

    labels = {
        r.vec_id: r.label
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "label")
        .collect()
    }

    def first_rel(rows, rank_attr):
        best = {}
        for r in rows:
            qlab = labels.get(r.query_id)
            rank = getattr(r, rank_attr)
            if rank <= _K_FUSED and labels.get(r.doc_id) == qlab:
                best[r.query_id] = min(best.get(r.query_id, 99), rank)
        return {q: _rha(1e9 / rk) for q, rk in best.items()}

    el = first_rel(_lex_arm_build(spark, sf_dir).collect(), "r_lex")
    es = first_rel(_sem_arm_build(spark, sf_dir).collect(), "r_sem")
    ef = first_rel(
        hybrid_rrf_fusion(spark, sf_dir).collect(), "fused_rank"
    )
    for r in hybrid_mrr_eval(spark, sf_dir).collect():
        assert r.rr_lex_nano == el.get(r.query_id, 0)
        assert r.rr_sem_nano == es.get(r.query_id, 0)
        assert r.rr_rrf_nano == ef.get(r.query_id, 0)


def test_eval_entries_build_each_arm_once(spark, sf_dir, monkeypatch):
    """hits@10 and MRR read both arms AND their fusion; fusing the
    arm frames already built means one tokenized-corpus (toks) and
    one quantized-corpus (qv) checkpoint per call, not two of each."""
    from etl_mp_transactions_spark.queries.hybrid import hybrid_mrr_eval

    frame = type(spark.range(1))
    calls = []
    checkpoint = frame.localCheckpoint

    def counted(self, *args, **kwargs):
        calls.append(1)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame, "localCheckpoint", counted)
    for entry in (hybrid_fusion_gain, hybrid_mrr_eval):
        calls.clear()
        entry(spark, sf_dir)
        assert len(calls) == 2, entry.__name__
