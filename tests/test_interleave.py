"""Semantic invariants for the team-draft interleaving family
(queries/interleave.py): protocol properties the oracle's
value-equality can't express — draft legality, coin determinism, and
a full Python replay of the draft."""

import hashlib
from collections import defaultdict

from etl_mp_transactions_spark.queries.hybrid import _lex_arm_build, _sem_arm_build
from etl_mp_transactions_spark.queries.interleave import (
    _K,
    _ROUNDS,
    interleave_ab_verdict,
    interleave_teamdraft,
)


def test_interleaved_list_shape(spark, sf_dir):
    rows = interleave_teamdraft(spark, sf_dir).collect()
    by_q = defaultdict(list)
    for r in rows:
        by_q[r.query_id].append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.pos)
        # exactly 10 positions, 1..10, distinct docs
        assert [r.pos for r in rs] == list(range(1, 2 * _ROUNDS + 1))
        assert len({r.doc_id for r in rs}) == len(rs)
        # each round places one pick per team
        for i in range(0, len(rs), 2):
            assert {rs[i].team, rs[i + 1].team} == {"lex", "sem"}
        # team balance over the full list: 5 picks each
        teams = [r.team for r in rs]
        assert teams.count("lex") == _ROUNDS
        assert teams.count("sem") == _ROUNDS


def test_draft_python_replay(spark, sf_dir):
    """Replay the team-draft protocol in plain Python from the arm
    lists; picks, positions, teams, and source ranks must match."""
    lex = {
        (r.query_id, r.doc_id): r.r_lex
        for r in _lex_arm_build(spark, sf_dir).collect()
        if r.r_lex <= _K
    }
    sem = {
        (r.query_id, r.doc_id): r.r_sem
        for r in _sem_arm_build(spark, sf_dir).collect()
        if r.r_sem <= _K
    }
    qs = sorted({q for q, _ in lex} | {q for q, _ in sem})
    expected = set()
    for q in qs:
        lq = sorted(
            ((rk, d) for (qq, d), rk in lex.items() if qq == q)
        )
        sq = sorted(
            ((rk, d) for (qq, d), rk in sem.items() if qq == q)
        )
        placed = set()
        pos = 0
        for rnd in range(1, _ROUNDS + 1):
            coin = hashlib.md5(f"{q}:{rnd}".encode()).hexdigest()[0]
            order = (
                [("lex", lq), ("sem", sq)]
                if coin < "8"
                else [("sem", sq), ("lex", lq)]
            )
            for team, lst in order:
                for rk, d in lst:
                    if d not in placed:
                        placed.add(d)
                        pos += 1
                        expected.add((q, pos, d, team, rk))
                        break
    got = {
        (r.query_id, r.pos, r.doc_id, r.team, r.src_rank)
        for r in interleave_teamdraft(spark, sf_dir).collect()
    }
    assert got == expected


def test_verdict_consistent_with_list(spark, sf_dir):
    inter = interleave_teamdraft(spark, sf_dir).collect()
    labels = {
        r.vec_id: r.label
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "label")
        .collect()
    }
    counts = defaultdict(lambda: [0, 0])
    for r in inter:
        qlab = labels.get(r.query_id)
        if r.doc_id in labels and labels[r.doc_id] == qlab:
            counts[r.query_id][0 if r.team == "lex" else 1] += 1
    for v in interleave_ab_verdict(spark, sf_dir).collect():
        cl, cs = counts[v.query_id]
        assert (v.clicks_lex, v.clicks_sem) == (cl, cs)
        want = "lex" if cl > cs else "sem" if cs > cl else "tie"
        assert v.winner == want
