"""The exact tiled top-k (operators/tiled.tiled_topk) and its (score,
id) tiebreak contract, pinned once for both score types on tiny
literal frames, plus a guard that the per-module copies it replaced
do not come back."""

import pathlib
import re

import numpy as np
import pytest

from etl_mp_transactions_spark.functions.literalframe import literal_frame
from etl_mp_transactions_spark.operators import tiled
from etl_mp_transactions_spark.operators.tiled import tiled_topk

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "etl_mp_transactions_spark"

SCHEMA = {
    "cos": "vec_id long, embedding array<float>",
    "d2": "vec_id long, qv array<long>",
}

# Ties by construction. cos: rows 3, 5, 9 are one direction at scales
# 1, 2, 4 (identical unit rows), as are rows 2 and 6. d2: rows 3, 5, 9
# (and 2, 6) sit at equal integer distance from query row 0.
ROWS = {
    "cos": [
        (0, [1.0, 0.0, 0.0]),
        (9, [1.0, 1.0, 0.0]),
        (5, [2.0, 2.0, 0.0]),
        (3, [4.0, 4.0, 0.0]),
        (6, [0.0, 1.0, 0.0]),
        (2, [0.0, 2.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
        (7, [0.0, 1.0, 1.0]),
        (8, [1.0, 3.0, 5.0]),
        (1, [1.0, 2.0, 3.0]),
    ],
    "d2": [
        (0, [0, 0, 0]),
        (9, [1, 1, 0]),
        (5, [-1, 1, 0]),
        (3, [0, 1, 1]),
        (6, [2, 0, 0]),
        (2, [0, -2, 0]),
        (4, [3, 0, 0]),
        (7, [1, 2, 3]),
        (8, [-2, 2, 1]),
        (1, [4, 4, 4]),
    ],
}


def _frame(spark, score, rows):
    return literal_frame(spark, rows, SCHEMA[score])


def _brute(score, queries, corpus, k):
    """{(src, dst): rank} by sorting every non-self corpus row on
    (key, id), key = -cos or d2."""
    out = {}
    for qid, qv in queries:
        keyed = []
        for cid, cv in corpus:
            if cid == qid:
                continue
            a, b = np.asarray(qv, float), np.asarray(cv, float)
            if score == "cos":
                key = -float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            else:
                key = float(((a - b) ** 2).sum())
            keyed.append((key, cid))
        for rank, (_, cid) in enumerate(sorted(keyed)[:k], 1):
            out[(qid, cid)] = rank
    return out


def _ranks(df):
    return {(r["src"], r["dst"]): r["rank"] for r in df.collect()}


@pytest.mark.parametrize("score", ["cos", "d2"])
def test_ties_straddling_kth_slot_rank_by_id(spark, score):
    emb = _frame(spark, score, ROWS[score])
    got = sorted(
        (r["rank"], r["dst"])
        for r in tiled_topk(emb, emb, 2, score).collect()
        if r["src"] == 0
    )
    # rows 3, 5 and 9 tie for the best key of query 0; k=2 cuts the
    # group, so the two smallest ids win, in id order
    assert got == [(1, 3), (2, 5)]


@pytest.mark.parametrize("score", ["cos", "d2"])
@pytest.mark.parametrize("k", [1, 2, 3, 5])
def test_equals_numpy_brute_force(spark, score, k):
    emb = _frame(spark, score, ROWS[score])
    out = tiled_topk(emb, emb, k, score)
    assert _ranks(out) == _brute(score, ROWS[score], ROWS[score], k)
    assert out.filter("src = dst").count() == 0  # self excluded
    want = dict(ROWS[score])
    for r in out.collect():  # the carried score is the pair's own
        a = np.asarray(want[r["src"]], float)
        b = np.asarray(want[r["dst"]], float)
        if score == "cos":
            assert r["cos"] == pytest.approx(a @ b / np.linalg.norm(a) / np.linalg.norm(b))
        else:
            assert r["d2"] == int(((a - b) ** 2).sum())


@pytest.mark.parametrize("score", ["cos", "d2"])
def test_k_larger_than_cell_and_corpus(spark, score):
    # 10 rows over an 8×4 grid put ≤ 2 corpus rows in a cell; k=50
    # also exceeds the whole corpus, so every non-self row comes back
    emb = _frame(spark, score, ROWS[score])
    got = _ranks(tiled_topk(emb, emb, 50, score))
    assert got == _brute(score, ROWS[score], ROWS[score], 50)
    assert len(got) == len(ROWS[score]) * (len(ROWS[score]) - 1)


@pytest.mark.parametrize("score", ["cos", "d2"])
def test_separate_query_frame_and_empty_sides(spark, score):
    corpus = _frame(spark, score, ROWS[score])
    queries = ROWS[score][:3]
    got = _ranks(tiled_topk(_frame(spark, score, queries), corpus, 4, score))
    assert got == _brute(score, queries, ROWS[score], 4)
    empty = _frame(spark, score, [])
    assert tiled_topk(empty, corpus, 3, score).count() == 0
    assert tiled_topk(corpus, empty, 3, score).count() == 0


@pytest.mark.parametrize("score", ["cos", "d2"])
def test_query_blocking_keeps_the_answer(spark, score, monkeypatch):
    emb = _frame(spark, score, ROWS[score])
    whole = _ranks(tiled_topk(emb, emb, 3, score))
    monkeypatch.setattr(tiled, "BLOCK", 1)
    monkeypatch.setattr(tiled, "CHUNKS", 1)
    assert _ranks(tiled_topk(emb, emb, 3, score)) == whole


def test_no_second_topk_kernel_in_package():
    """One exact top-k: the per-module kernels it replaced stay gone,
    and only operators/tiled.py prunes with argpartition."""
    gone = re.compile(r"\b(_local_topk_fn|_knn_cell_kernel)\b")
    hits = [
        f"{p.relative_to(PACKAGE)}:{n}"
        for p in sorted(PACKAGE.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if gone.search(line)
        or ("argpartition" in line and p.name != "tiled.py")
    ]
    assert not hits, f"use operators/tiled.tiled_topk: {hits}"
