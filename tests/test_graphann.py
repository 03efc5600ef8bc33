"""Semantic invariants for the graph-ANN family (queries/graphann.py):
graph legality, walk monotonicity, and a full Python replay of the
kNN-graph build + greedy search."""

from collections import defaultdict

import numpy as np
import pandas as pd

from etl_mp_transactions_spark.queries.graphann import (
    _DEG,
    _HOPS,
    _NQ,
    graph_ann_greedy_search,
    graph_ann_search_verdict,
    l2_knn_graph,
)


def _quant(sf_dir):
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    X = np.stack([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    s = X * 1e6
    q = (np.floor(np.abs(s) + 0.5) * np.sign(s)).astype(np.int64)
    return emb["vec_id"].to_numpy(), q


def _d2(q, a, b):
    d = q[a] - q[b]
    return int((d * d).sum())


def test_knn_graph_matches_bruteforce(spark, sf_dir):
    ids, q = _quant(sf_dir)
    pos = {int(v): i for i, v in enumerate(ids)}
    got = defaultdict(set)
    for r in l2_knn_graph(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ).collect():
        got[r.src].add(r.dst)
    for v in list(pos)[:20]:  # spot-check 20 nodes exhaustively
        d2s = sorted(
            (_d2(q, pos[v], pos[u]), u) for u in pos if u != v
        )[:_DEG]
        assert got[v] == {u for _, u in d2s}, v


def test_walk_is_monotone_and_legal(spark, sf_dir):
    ids, q = _quant(sf_dir)
    pos = {int(v): i for i, v in enumerate(ids)}
    traj = defaultdict(dict)
    for r in graph_ann_greedy_search(spark, sf_dir).collect():
        traj[r.query_id][r.hop] = (r.node_id, r.d2)
    assert set(traj) == set(range(_NQ))
    for qid, hops in traj.items():
        assert set(hops) == set(range(_HOPS + 1))
        d2s = [hops[h][1] for h in range(_HOPS + 1)]
        assert all(b <= a for a, b in zip(d2s, d2s[1:])), qid
        for h in range(_HOPS + 1):
            node, d2 = hops[h]
            assert node != qid
            assert d2 == _d2(q, pos[node], pos[qid])


def test_greedy_python_replay(spark, sf_dir):
    ids, q = _quant(sf_dir)
    pos = {int(v): i for i, v in enumerate(ids)}
    graph = defaultdict(list)
    for v in pos:
        nbrs = sorted(
            (_d2(q, pos[v], pos[u]), u) for u in pos if u != v
        )[:_DEG]
        graph[v] = [u for _, u in nbrs]
    expected = {}
    for qid in range(_NQ):
        cur = min(u for u in pos if u != qid)
        for _h in range(_HOPS):
            cands = [cur] + [u for u in graph[cur] if u != qid]
            cur = min(cands, key=lambda u: (_d2(q, pos[u], pos[qid]), u))
        exact = min(
            (u for u in pos if u != qid),
            key=lambda u: (_d2(q, pos[u], pos[qid]), u),
        )
        expected[qid] = (
            cur,
            _d2(q, pos[cur], pos[qid]),
            exact,
            _d2(q, pos[exact], pos[qid]),
        )
    for r in graph_ann_search_verdict(spark, sf_dir).collect():
        fn, fd, en, ed = expected[r.query_id]
        assert (r.final_node, r.final_d2) == (fn, fd), r
        assert (r.exact_nn, r.exact_d2) == (en, ed), r
        assert r.found_exact == (fd == ed)
        assert 0 <= r.converged_hop <= _HOPS


def test_incremental_insert_equals_rebuild(spark, sf_dir):
    """insert == frozen-books rebuild (the r13 IVF-seeded identity):
    the incrementally maintained graph must equal the IVF-seeded
    build over the full corpus with coarse books frozen from the
    base slice, exactly."""
    from etl_mp_transactions_spark.queries.graphann import (
        gann_books,
        graph_ann_incremental_insert,
        ivf_knn_topk,
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = gann_books(emb.filter(F.col("vec_id") % 10 != 7))
    w = Window.partitionBy("src").orderBy("d2", "dst")
    rebuilt = {
        (r.src, r.dst, r.rnk)
        for r in ivf_knn_topk(emb, emb, books)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .collect()
    }
    incr = {
        (r.src, r.dst, r.rnk)
        for r in graph_ann_incremental_insert(spark, sf_dir).collect()
    }
    assert incr == rebuilt and len(incr) > 0


def test_ivf_build_python_replay_and_verdict_bounds(spark, sf_dir):
    """IVF-seeded build (r13, r14 two-level assignment): a full
    python replay of the books→super→probe→candidate→top-8 chain —
    independent of the engine helpers, hashlib + numpy only — must
    match Spark's edge set exactly, and the verdict's recall/hop
    fields must be bounded."""
    import hashlib
    import math

    from etl_mp_transactions_spark.queries.graphann import (
        _GANN_BUCKET,
        _GANN_KC_MIN,
        _GANN_NPROBE,
        _GANN_SUPER_PROBE,
        _GANN_SUPER_TAG,
        _GANN_TAG,
        gann_books,
        graph_ann_ivf_verdict,
        ivf_knn_topk,
    )

    ids, q = _quant(sf_dir)
    pos = {int(v): i for i, v in enumerate(ids)}
    n = len(ids)
    kc = max(_GANN_KC_MIN, (n + _GANN_BUCKET - 1) // _GANN_BUCKET)
    seeds = sorted(
        (hashlib.md5(f"{int(v)}{_GANN_TAG}".encode()).hexdigest(), int(v))
        for v in ids
    )[:kc]
    B = np.stack([q[pos[v]] for _, v in seeds])
    # two-level structure: md5-rank super seeds over centroid ids,
    # nearest-super membership (s-asc ties) + forced self-membership
    s_int = math.isqrt(kc)
    ks = max(2, s_int if s_int * s_int == kc else s_int + 1)
    sorder = sorted(
        range(kc),
        key=lambda c: (
            hashlib.md5(f"{c}{_GANN_SUPER_TAG}".encode()).hexdigest(),
            c,
        ),
    )[:ks]
    S = B[sorder]
    smembers = defaultdict(set)
    for c in range(kc):
        d = ((S - B[c]) ** 2).sum(axis=1)
        smembers[int(np.argmin(d))].add(c)
    for s, c in enumerate(sorder):
        smembers[s].add(c)

    def probes(v, k):
        ds = ((S - q[pos[v]]) ** 2).sum(axis=1)
        top = np.argsort(ds, kind="stable")[:_GANN_SUPER_PROBE]
        cand = sorted(set().union(*(smembers[int(s)] for s in top)))
        dc = sorted((int(((B[c] - q[pos[v]]) ** 2).sum()), c) for c in cand)
        return [c for _, c in dc[:k]]

    prim = {int(v): probes(int(v), 1)[0] for v in ids}
    members = defaultdict(list)
    for v, c in prim.items():
        members[c].append(v)
    want = defaultdict(set)
    for v in (int(x) for x in ids):
        cand = [
            u
            for c in probes(v, _GANN_NPROBE)
            for u in members[c]
            if u != v
        ]
        best = sorted(cand, key=lambda u: (_d2(q, pos[v], pos[u]), u))
        want[v] = set(best[: _DEG])
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = gann_books(emb)
    got = defaultdict(set)
    for r in ivf_knn_topk(emb, emb, books).collect():
        got[r.src].add(r.dst)
    assert dict(got) == {k: v for k, v in want.items() if v}
    rows = graph_ann_ivf_verdict(spark, sf_dir).collect()
    assert len(rows) == _NQ
    for r in rows:
        assert 0 <= r.edge_recall8 <= _DEG
        assert 0 <= r.converged_hop <= _HOPS
        assert r.final_d2 >= r.exact_d2
        assert r.found_exact == (r.final_d2 == r.exact_d2)


def test_build_flat_equiv_counters(spark, sf_dir):
    """graph_ann_build_flat_equiv (r14): the equivalence pin's
    counters must be internally consistent — common ≤ both edge
    counts, identical ⇔ full overlap, eval counters match their
    closed forms (flat = n·KC; hier = n·ks1 + Σ|cand|, which with
    self-membership is between n·(ks1+1) and n·(ks1+KC))."""
    from etl_mp_transactions_spark.queries.graphann import (
        graph_ann_build_flat_equiv,
    )

    r = graph_ann_build_flat_equiv(spark, sf_dir).collect()[0]
    assert r.edges_common <= min(r.edges_hier, r.edges_flat)
    assert r.identical == (
        r.edges_hier == r.edges_flat == r.edges_common
    )
    assert r.evals_flat == r.n * r.kc
    assert r.n * (r.ks1 + 1) <= r.evals_hier <= r.n * (r.ks1 + r.kc)


def test_gann_books_kc_ceiling(spark, sf_dir, monkeypatch):
    """gann_books (VERDICT r13 task #5): a corpus whose KC would
    exceed the documented driver-collect ceiling must refuse loudly,
    naming the sampled-quantizer scale path."""
    import pytest

    from etl_mp_transactions_spark.queries import graphann

    monkeypatch.setattr(graphann, "GANN_KC_CEIL", 1)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="driver-collect ceiling"):
        graphann.gann_books(emb)


def test_delete_repair_equals_rebuild(spark, sf_dir):
    """graph_ann_delete_repair (r14): the pass-through + affected-only
    re-scan must equal the frozen-books rebuild over survivors
    exactly (src/dst/d2/rnk), and the repair must actually save work
    (some surviving nodes pass through untouched)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_mp_transactions_spark.queries.graphann import (
        _DEL_PRED,
        gann_books,
        graph_ann_delete_repair,
        ivf_knn_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    survivors = emb.filter(F.expr(_DEL_PRED))
    books = gann_books(emb)
    w = Window.partitionBy("src").orderBy("d2", "dst")
    rebuilt = {
        (r.src, r.dst, r.d2, r.rnk)
        for r in ivf_knn_topk(survivors, survivors, books)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .collect()
    }
    got = {
        (r.src, r.dst, r.d2, r.rnk)
        for r in graph_ann_delete_repair(spark, sf_dir).collect()
    }
    assert got == rebuilt and len(got) > 0
    # repair locality: not every survivor lost an edge
    deleted = {
        r.vec_id for r in emb.filter(~F.expr(_DEL_PRED)).collect()
    }
    base = ivf_knn_topk(emb, emb, books).collect()
    affected = {r.src for r in base if r.dst in deleted}
    n_surv = survivors.count()
    assert len(affected) < n_surv


def test_stream_graph_delete_equals_batch(spark, sf_dir):
    """r26 (21st stream==batch pin): the streamed tombstone repair's
    final view must equal the batch graph_ann_delete_repair bit for
    bit — including the replay file contributing zero."""
    from etl_mp_transactions_spark.queries.graphann import (
        graph_ann_delete_repair,
        r26_stream_graph_delete,
    )

    batch = {
        (r.src, r.dst, r.d2, r.rnk)
        for r in graph_ann_delete_repair(spark, sf_dir).collect()
    }
    stream = {
        (r.src, r.dst, r.d2, r.rnk)
        for r in r26_stream_graph_delete(spark, sf_dir).collect()
    }
    assert stream == batch and len(stream) > 0


def test_stream_graph_delete_reexecution_idempotent(
    spark, sf_dir, tmp_path
):
    """ADVICE r14 medium: foreachBatch re-execution after a crash
    between the fragment write and the checkpoint commit re-runs
    maintain() with the prior attempt's batch={b} fragment already on
    disk. Simulated on the SANCTIONED recovery path — delete the last
    commit markers from the checkpoint and restart, so Structured
    Streaming re-executes those batches against their own existing
    fragments (exactly the crash window; a FULL re-run with a fresh
    checkpoint over old multi-batch state is NOT a scenario the
    engine produces — commits are monotone). If the fragment read
    kept the batch's own id, the already-repaired fragment would mask
    the pre-batch edges, detection would find nothing, and the repair
    would be overwritten empty — the final view silently loses edges.
    Leaving it out, the re-executed batch rewrites an identical
    fragment and the final view still equals the batch oracle."""
    import os

    from pyspark.sql import functions as F

    from etl_mp_transactions_spark.queries.graphann import (
        _DEL_PRED,
        gann_books,
        graph_ann_delete_repair,
    )
    from etl_mp_transactions_spark.streaming import filesource

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    work = str(tmp_path)
    stage = os.path.join(work, "in")
    os.makedirs(stage, exist_ok=True)
    tombs = emb.filter(~F.expr(_DEL_PRED)).select("vec_id").withColumn(
        "g", F.expr("(vec_id div 10) % 4")
    )
    t0 = 1700000000
    for g in range(4):
        filesource.write_single_file(
            tombs.filter(F.col("g") == g).drop("g"),
            os.path.join(stage, f"f{g}.parquet"),
            t0 + 10 * g,
        )
    books = gann_books(emb)
    state = os.path.join(work, "state")
    ckpt = os.path.join(work, "ckpt")
    first = filesource.stream_graph_delete_run(
        spark, stage, ckpt, state, emb, books
    )
    first_rows = {
        (r.src, r.dst, r.d2, r.rnk) for r in first.collect()
    }
    # crash simulation: drop the last two commit markers → restart
    # re-executes those batches with their fragments already on disk
    commits = os.path.join(ckpt, "commits")
    dropped = sorted(
        (f for f in os.listdir(commits) if not f.startswith(".")),
        key=int,
    )[-2:]
    assert dropped, "expected commit markers"
    for f in dropped:
        os.remove(os.path.join(commits, f))
        crc = os.path.join(commits, f".{f}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    second = filesource.stream_graph_delete_run(
        spark, stage, ckpt, state, emb, books
    )
    second_rows = {
        (r.src, r.dst, r.d2, r.rnk) for r in second.collect()
    }
    batch = {
        (r.src, r.dst, r.d2, r.rnk)
        for r in graph_ann_delete_repair(spark, sf_dir).collect()
    }
    assert first_rows == batch and len(batch) > 0
    assert second_rows == batch


def test_stream_graph_insert_restart_equals_uninterrupted(
    spark, sf_dir, tmp_path
):
    """r25 resumed from its checkpoint: stop after two of the four
    arriving files, add the other two, and run again on the same
    checkpoint and state. The member batches of the first
    run are on disk but were never probed by the second; unless their
    probes are rebuilt, the resumed batches build their fragments
    against the base probes only and silently drop the edges between
    old and new arrivals. The result must equal one uninterrupted
    run over all four files."""
    import os

    from pyspark.sql import functions as F

    from etl_mp_transactions_spark.queries.graphann import (
        _BASE_PRED,
        gann_books,
    )
    from etl_mp_transactions_spark.streaming import filesource

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(F.expr(_BASE_PRED))
    books = gann_books(base)
    arriving = emb.filter(~F.expr(_BASE_PRED)).withColumn(
        "g", F.expr("(vec_id div 10) % 4")
    )

    def arrive(stage, groups):
        os.makedirs(stage, exist_ok=True)
        for g in groups:
            filesource.write_single_file(
                arriving.filter(F.col("g") == g).drop("g"),
                os.path.join(stage, f"f{g}.parquet"),
                1700000000 + 10 * g,
            )

    def run(work):
        out = filesource.stream_graph_insert_run(
            spark,
            os.path.join(work, "in"),
            os.path.join(work, "ckpt"),
            os.path.join(work, "state"),
            base,
            books,
        )
        return {(r.src, r.dst, r.rnk) for r in out.collect()}

    once = str(tmp_path / "once")
    arrive(os.path.join(once, "in"), range(4))
    want = run(once)
    resumed = str(tmp_path / "resumed")
    arrive(os.path.join(resumed, "in"), [0, 1])
    run(resumed)
    arrive(os.path.join(resumed, "in"), [2, 3])
    assert run(resumed) == want and len(want) > 0


def test_routed_walk_enters_near_and_converges_no_later(spark, sf_dir):
    """graph_ann_routed_walk (r14): the coarse-routed entry starts
    the walk inside the query's primary-list neighborhood, so on this
    corpus every query converges NO LATER than the flat min-id-entry
    walk (most at hop 0-1 vs 1-4), and the verdict invariants hold."""
    from etl_mp_transactions_spark.queries.graphann import (
        graph_ann_ivf_verdict,
        graph_ann_routed_walk,
    )

    routed = {
        r.query_id: r
        for r in graph_ann_routed_walk(spark, sf_dir).collect()
    }
    flat = {
        r.query_id: r
        for r in graph_ann_ivf_verdict(spark, sf_dir).collect()
    }
    assert set(routed) == set(flat) == set(range(_NQ))
    for qid, r in routed.items():
        assert r.converged_hop <= flat[qid].converged_hop, qid
        assert r.final_d2 >= r.exact_d2
        assert r.found_exact == (r.final_d2 == r.exact_d2)
        assert r.entry_node != qid
