"""Graph-based ANN (the NSW/HNSW paradigm, Malkov & Yashunin 2016)
over the embedding corpus: an exact integer-L2 kNN graph plus greedy
best-first search, completing the ANN family's paradigm coverage
(brute-force / LSH / IVF / PQ / IVF-PQ / graph) — SURVEY.md §2.9; no
reference counterpart, north-star additions.

- ``graph_ann_greedy_search``: build the degree-8 kNN graph (exact
  quantized-L2 top-8 per node), then walk it: from a deterministic
  entry point (the smallest corpus id ≠ query), T = 8 unrolled hops,
  each moving to the best of {current} ∪ neighbors(current) by exact
  d2 to the query — monotone by construction (the current node is
  always a candidate), so the walk never cycles. Output: the full
  hop trajectory per query.
- ``graph_ann_search_verdict``: the honest quality report — final
  node vs the TRUE nearest neighbor (exact corpus argmin), with the
  found_exact verdict and the hop at which the walk converged. Greedy
  search on a plain kNN graph is NOT guaranteed to find the true NN
  (that is the point of HNSW's hierarchy); the verdict measures how
  often it does on this corpus, per query, exactly.
- r13 completes the family's production lifecycle on the IVF-seeded
  build below: ``graph_ann_ivf_build`` / ``graph_ann_ivf_verdict``
  (~linear build + edge-recall audit), ``graph_ann_incremental_insert``
  (frozen-books insert == rebuild) with its streaming twin
  ``r25_stream_graph_insert`` (20th stream==batch pin),
  ``graph_ann_index_roundtrip`` (persist/reload serving),
  ``graph_ann_filtered_walk`` (label-filtered search from the walk's
  visited set, vs the exact filtered NN), and — since r14 — the
  TWO-LEVEL coarse assignment inside the build itself (the r13
  audit's go decision executed), with ``graph_ann_build_flat_equiv``
  pinning the shipped build against the retired flat ground truth.

Exactness: vectors quantized to micro ints (the pq.py contract), all
distances exact BIGINT (d2 ≤ 64·(2.4e6)² ≈ 3.7e14), ties broken by
node id, entry and walk fully deterministic. Both Spark kNN builds
(exact tiled and IVF-seeded) are the package's one exact tiled top-k,
``operators/tiled.tiled_topk`` with the d2 score — |a−b|² =
|a|² + |b|² − 2ab over exact-integer blocks (``int_rows``) — so graph
edges match the DuckDB n² QUALIFY oracle bit for bit.

Scale shape (100 TB): TWO builds. The exact O(n²) build
(``graph_ann_greedy_search``/``graph_ann_search_verdict``) is the
small-SF ground truth — evenly distributed (tile pairs, no
CartesianProduct) but quadratic, kept for verification. The SCALE
PATH is the IVF-seeded build (``graph_ann_ivf_build``/
``graph_ann_ivf_verdict``/``graph_ann_incremental_insert``, VERDICT
r12 tasks #3/#4): candidate edges only within nprobe=2 probed coarse
lists sized for ~256-member occupancy (KC = max(8, ⌈n/256⌉)), so
edge work is ~n·nprobe·256 — linear in n — with per-query edge
recall against the exact top-8 carried in-result. The graph (n·8
rows) is the persisted index artifact, localCheckpoint-ed here (the
bounded-materialization class: it IS the index); each hop is a
broadcast of the ≤|Q|-row frontier joined into the graph — per-hop
work O(|Q|·degree), independent of n, the defining property of graph
ANN serving."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_mp_transactions_spark.operators.tiled import int_rows, tiled_topk
from etl_mp_transactions_spark.queries.ivfpq_q import materialize_ctes
from etl_mp_transactions_spark.registry import query
from etl_mp_transactions_spark.sources.tables import load_table

_NQ = 8  # query batch: ids 0..7 (the hybrid/sem-arm contract)
_DEG = 8  # kNN graph out-degree
_HOPS = 8  # unrolled greedy hops
_DIM = 64


# ---------------------------------------------------------------- DuckDB

_L2 = (
    "CAST(list_sum(list_transform(generate_series(1, 64),"
    " j -> ({a}[j] - {b}[j]) * ({a}[j] - {b}[j]))) AS BIGINT)"
)


# IVF-seeded build parameters (VERDICT r12 task #3): coarse lists
# sized for ~bounded bucket occupancy so candidate-edge work is
# ~linear in n (nprobe·bucket per node), not n².
_GANN_TAG = ":gann-coarse-1"
_GANN_BUCKET = 256  # target coarse-list occupancy
_GANN_KC_MIN = 8
_GANN_NPROBE = 2  # probed lists per node (boundary recall)

# Two-level coarse assignment (VERDICT r13 task #4 — the r13 audit's
# flat n×KC arm measured 18.5× at a 10× step; the hierarchy is now
# the BUILD's assignment, not just an audit): ⌈√KC⌉ md5-rank super
# seeds among the centroids, each centroid assigned to its nearest
# super (s-asc ties) PLUS forced self-membership (a super's own seed
# centroid always belongs to its list — kills the empty-probed-list
# degenerate case ADVICE r13 flagged, by construction), each node
# probes its top-2 supers and argmins only over their member
# centroids. Assignment work: n·(√KC + ~2·KC/√KC) ≈ 3·n·√KC vs the
# flat n·KC — ~9.3× fewer evals at sf10, growing as √KC.
_GANN_SUPER_TAG = ":gann-super-1"
_GANN_SUPER_PROBE = 2

# gann_books ceiling (VERDICT r13 task #5): the coarse codebook is a
# parameter-bounded driver collect, but KC = ⌈n/256⌉ grows with the
# corpus — refuse loudly past 2^16 centroids (a ~16.7M-row corpus at
# 256 occupancy; the collected books are then 64·8·65536 ≈ 34 MB, the
# sane driver-artifact ceiling). Past it, the coarse quantizer itself
# must come from sampled/minibatch training (operators/ivfpq.py
# coarse_books over a bounded sample) rather than a corpus-rank pick.
GANN_KC_CEIL = 1 << 16


def _ivf_knn_ctes(
    base_pred: str = "TRUE", node_pred: str = "TRUE"
) -> str:
    """DuckDB twin of the IVF-seeded kNN-graph build, as CTE text
    (expects ``qv`` defined): md5-rank coarse seeds over the
    ``base_pred`` slice (KC = max(8, ⌈n/256⌉), data-derived in SQL so
    both engines agree at every SF), every node assigned to its
    nprobe nearest lists via the TWO-LEVEL assignment (r14: probe the
    ⌈√KC⌉ md5-rank super-lists, exact integer d2 with s-asc ties,
    then argmin over their member centroids with c-asc ties —
    centroid membership = nearest super plus forced self-membership),
    candidate edges = probed-list cohabitants by primary assignment,
    exact top-{_DEG} per node. ``base_pred`` restricts the slice the
    COARSE SEEDS are picked from (frozen-books maintenance);
    ``node_pred`` restricts which nodes participate in the graph at
    all (delete maintenance: survivors only, books untouched).
    Defines ``knn(src, dst, d2, rnk)``."""
    d2vc = _L2.format(a="v.qv", b="cb.ccqv")
    d2ab = _L2.format(a="a.qv", b="b.qv")
    d2cs = _L2.format(a="cb.ccqv", b="sb.scqv")
    d2vs = _L2.format(a="v.qv", b="sb.scqv")
    rn_seed = (
        f"row_number() OVER (ORDER BY md5(vec_id::VARCHAR ||"
        f" '{_GANN_TAG}'), vec_id)"
    )
    rn_super = (
        f"row_number() OVER (ORDER BY md5(c::VARCHAR ||"
        f" '{_GANN_SUPER_TAG}'), c)"
    )
    return f"""qb AS (SELECT * FROM qv WHERE {base_pred}),
    cb AS (
      SELECT {rn_seed} - 1 AS c, qv AS ccqv
      FROM qb
      QUALIFY {rn_seed} <= (
        SELECT greatest({_GANN_KC_MIN},
                        (count(*) + {_GANN_BUCKET - 1}) // {_GANN_BUCKET})
        FROM qb)
    ),
    ks AS (
      SELECT greatest(2, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS ks1
      FROM cb
    ),
    sb AS (
      SELECT {rn_super} - 1 AS s, c AS sc, ccqv AS scqv
      FROM cb
      QUALIFY {rn_super} <= (SELECT ks1 FROM ks)
    ),
    casg AS (
      SELECT c, s FROM (
        SELECT cb.c, sb.s,
               row_number() OVER (PARTITION BY cb.c
                                  ORDER BY {d2cs}, sb.s) AS rn
        FROM cb CROSS JOIN sb
      ) WHERE rn = 1
      UNION
      SELECT sc AS c, s FROM sb
    ),
    nprob AS (
      SELECT vec_id, s FROM (
        SELECT v.vec_id, sb.s,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {d2vs}, sb.s) AS spr
        FROM qv v CROSS JOIN sb WHERE {node_pred}
      ) WHERE spr <= {_GANN_SUPER_PROBE}
    ),
    vcand AS (
      SELECT DISTINCT p.vec_id, ca.c
      FROM nprob p JOIN casg ca ON ca.s = p.s
    ),
    asg AS (
      SELECT vec_id, c, pr FROM (
        SELECT n.vec_id, cb.c,
               row_number() OVER (PARTITION BY n.vec_id
                                  ORDER BY {d2vc}, cb.c) AS pr
        FROM vcand n
        JOIN cb ON cb.c = n.c
        JOIN qv v ON v.vec_id = n.vec_id
      ) WHERE pr <= {_GANN_NPROBE}
    ),
    mem AS (SELECT vec_id, c FROM asg WHERE pr = 1),
    gcand AS (
      SELECT p.vec_id AS src, m.vec_id AS dst
      FROM asg p JOIN mem m ON m.c = p.c AND m.vec_id <> p.vec_id
    ),
    knn AS (
      SELECT src, dst, d2,
             row_number() OVER (PARTITION BY src
                                ORDER BY d2, dst) AS rnk
      FROM (
        SELECT g.src, g.dst, {d2ab} AS d2
        FROM gcand g
        JOIN qv a ON a.vec_id = g.src
        JOIN qv b ON b.vec_id = g.dst
      )
      QUALIFY rnk <= {_DEG}
    )"""


def _graph_ctes(
    knn_ctes: str | None = None, entry_cte: str | None = None
) -> str:
    """Walk CTEs over a kNN graph: ``knn_ctes`` supplies the CTE text
    defining ``knn(src, dst, …)`` (default: the exact n² build — the
    small-SF ground truth; the IVF-seeded build is the scale path);
    ``entry_cte`` overrides the walk's entry CTE (default: the
    deterministic global-min-id entry; the routed walk seeds from the
    query's primary coarse list instead)."""
    d2_ab = _L2.format(a="a.qv", b="b.qv")
    d2_node = _L2.format(a="v.qv", b="qs.qqv")
    if knn_ctes is None:
        knn_ctes = f"""knn AS (
      SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {d2_ab}, b.vec_id) AS rnk
        FROM qv a JOIN qv b ON a.vec_id <> b.vec_id
      ) WHERE rnk <= {_DEG}
    )"""
    hops = []
    for t in range(1, _HOPS + 1):
        hops.append(f""",
    cand{t} AS (
      SELECT query_id, node FROM hop{t - 1}
      UNION ALL
      SELECT h.query_id, g.dst AS node
      FROM hop{t - 1} h JOIN knn g ON g.src = h.node
    ),
    hop{t} AS (
      SELECT query_id, CAST({t} AS BIGINT) AS hop, node, d2 FROM (
        SELECT c.query_id, c.node, {_L2.format(a="v.qv", b="qs.qqv")} AS d2,
               row_number() OVER (PARTITION BY c.query_id
                                  ORDER BY {_L2.format(a="v.qv", b="qs.qqv")},
                                           c.node) AS rn
        FROM cand{t} c
        JOIN qv v ON v.vec_id = c.node
        JOIN qs ON qs.query_id = c.query_id
        WHERE c.node <> c.query_id
      ) WHERE rn = 1
    )""")
    return f"""qv AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(x * 1e6) AS BIGINT)) AS qv
      FROM embeddings
    ),
    qs AS (
      SELECT vec_id AS query_id, qv AS qqv FROM qv WHERE vec_id < {_NQ}
    ),
    {knn_ctes},
    {entry_cte or '''entry AS (
      SELECT qs.query_id, min(v.vec_id) AS node
      FROM qs CROSS JOIN qv v WHERE v.vec_id <> qs.query_id
      GROUP BY 1
    )'''},
    hop0 AS (
      SELECT e.query_id, CAST(0 AS BIGINT) AS hop, e.node,
             {d2_node} AS d2
      FROM entry e
      JOIN qv v ON v.vec_id = e.node
      JOIN qs ON qs.query_id = e.query_id
    ){"".join(hops)},
    trajectory AS (
      {" UNION ALL ".join(f"SELECT query_id, hop, node, d2 FROM hop{t}" for t in range(_HOPS + 1))}
    )"""


_SEARCH_SQL = materialize_ctes(
    f"""WITH {_graph_ctes()}
    SELECT query_id, hop, node AS node_id, d2 FROM trajectory"""
)

_VERDICT_SQL = materialize_ctes(
    f"""WITH {_graph_ctes()},
    exactnn AS (
      SELECT query_id, node AS exact_nn, d2 AS exact_d2 FROM (
        SELECT qs.query_id, v.vec_id AS node,
               {_L2.format(a="v.qv", b="qs.qqv")} AS d2,
               row_number() OVER (PARTITION BY qs.query_id
                                  ORDER BY {_L2.format(a="v.qv", b="qs.qqv")},
                                           v.vec_id) AS rn
        FROM qs CROSS JOIN qv v WHERE v.vec_id <> qs.query_id
      ) WHERE rn = 1
    ),
    fin AS (
      SELECT query_id, node AS final_node, d2 AS final_d2
      FROM hop{_HOPS}
    ),
    conv AS (
      SELECT t.query_id, CAST(min(t.hop) AS BIGINT) AS converged_hop
      FROM trajectory t JOIN fin f ON f.query_id = t.query_id
                                  AND t.d2 = f.final_d2
      GROUP BY 1
    )
    SELECT f.query_id, f.final_node, f.final_d2,
           e.exact_nn, e.exact_d2,
           f.final_d2 = e.exact_d2 AS found_exact,
           c.converged_hop
    FROM fin f
    JOIN exactnn e ON e.query_id = f.query_id
    JOIN conv c ON c.query_id = f.query_id"""
)


# ----------------------------------------------------------------- Spark


def _quantized(emb: DataFrame) -> DataFrame:
    return emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(round(x * 1e6) as bigint))"
        ).alias("qv"),
    )


def l2_knn_graph(emb: DataFrame, deg: int = _DEG) -> DataFrame:
    """(src, dst): exact quantized-L2 top-``deg`` per node."""
    return l2_knn_topk(emb, emb, deg).select("src", "dst")


def l2_knn_topk(
    queries_emb: DataFrame, corpus_emb: DataFrame, deg: int = _DEG
) -> DataFrame:
    """(src, dst, d2): exact top-``deg`` corpus neighbors per query
    vector (self excluded) through the tiled exact top-k
    (operators/tiled.tiled_topk, d2 score) — every distance exact, no
    CartesianProduct, per-task memory bounded by the grid; queries and
    corpus may be different frames (the incremental-insert shapes)."""
    return tiled_topk(
        _quantized(queries_emb), _quantized(corpus_emb), deg, "d2"
    ).select("src", "dst", "d2")


def _d2_expr() -> F.Column:
    return F.expr(
        "aggregate(zip_with(qv, qqv, (x, y) -> (x - y) * (x - y)),"
        " 0L, (a, v) -> a + v)"
    )


def _trajectory(
    spark: SparkSession,
    sf_dir: str,
    knn: DataFrame | None = None,
    entry: DataFrame | None = None,
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # every hop's scored() join fetches candidate vectors from the
    # corpus: materialize the quantized corpus ONCE per call (lazy
    # localCheckpoint) so the _HOPS+1 hop jobs read cached rows
    # instead of re-running the parquet scan + quantize transform
    # twice per hop (r16, guide §5)
    q = _quantized(emb).localCheckpoint(eager=False)
    qs = q.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv")
    )
    # the graph IS the index artifact — one bounded materialization
    if knn is None:
        knn = l2_knn_graph(emb)
    knn = knn.select("src", "dst").localCheckpoint()
    if entry is None:
        entry = (
            q.crossJoin(F.broadcast(qs.select("query_id")))
            .filter(F.col("vec_id") != F.col("query_id"))
            .groupBy("query_id")
            .agg(F.min("vec_id").alias("node"))
        )

    def scored(cands: DataFrame) -> DataFrame:
        # cands: (query_id, node); pick per-query argmin d2 to query
        return (
            cands.filter(F.col("node") != F.col("query_id"))
            .join(q.select(F.col("vec_id").alias("node"), "qv"), "node")
            .join(F.broadcast(qs), "query_id")
            .select("query_id", "node", _d2_expr().alias("d2"))
        )

    w = Window.partitionBy("query_id").orderBy("d2", "node")
    hop = (
        scored(entry)
        .select(
            "query_id", F.lit(0).cast("long").alias("hop"), "node", "d2"
        )
        .localCheckpoint()
    )
    traj = hop
    for t in range(1, _HOPS + 1):
        frontier = hop.select("query_id", "node")
        cands = frontier.unionByName(
            F.broadcast(frontier)
            .join(knn, frontier["node"] == knn["src"])
            .select("query_id", F.col("dst").alias("node"))
        )
        hop = (
            scored(cands)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                F.lit(t).cast("long").alias("hop"),
                "node",
                "d2",
            )
            .localCheckpoint()  # per-hop plan cut (frontier reused 2x)
        )
        traj = traj.unionByName(hop)
    return traj


@query("graph_ann_greedy_search", _SEARCH_SQL)
def graph_ann_greedy_search(spark, sf_dir):
    """Greedy best-first walk over the exact degree-8 kNN graph: the
    full hop-0..8 trajectory per query (monotone d2 by construction —
    the current node is always a candidate)."""
    return _trajectory(spark, sf_dir).select(
        "query_id", "hop", F.col("node").alias("node_id"), "d2"
    )


@query("graph_ann_search_verdict", _VERDICT_SQL)
def graph_ann_search_verdict(spark, sf_dir):
    """Per-query search-quality report: final node vs the true nearest
    neighbor (found_exact), plus the hop where the walk converged —
    the honest measure of plain-kNN-graph greedy search (no HNSW
    hierarchy)."""
    traj = _trajectory(spark, sf_dir).localCheckpoint()
    return _verdict_frame(spark, sf_dir, traj)


def _verdict_frame(spark, sf_dir, traj) -> DataFrame:
    """(query_id, final_node, final_d2, exact_nn, exact_d2,
    found_exact, converged_hop) from a finished walk trajectory —
    shared by the exact-build and IVF-build verdict queries."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _quantized(emb)
    qs = q.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv")
    )
    w = Window.partitionBy("query_id").orderBy("d2", "node")
    exactnn = (
        q.select(F.col("vec_id").alias("node"), "qv")
        .crossJoin(F.broadcast(qs))
        .filter(F.col("node") != F.col("query_id"))
        .select("query_id", "node", _d2_expr().alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("node").alias("exact_nn"),
            F.col("d2").alias("exact_d2"),
        )
    )
    fin = traj.filter(F.col("hop") == _HOPS).select(
        "query_id",
        F.col("node").alias("final_node"),
        F.col("d2").alias("final_d2"),
    )
    conv = (
        traj.join(F.broadcast(fin), "query_id")
        .filter(F.col("d2") == F.col("final_d2"))
        .groupBy("query_id")
        .agg(F.min("hop").cast("long").alias("converged_hop"))
    )
    return (
        fin.join(exactnn, "query_id")
        .join(conv, "query_id")
        .select(
            "query_id",
            "final_node",
            "final_d2",
            "exact_nn",
            "exact_d2",
            (F.col("final_d2") == F.col("exact_d2")).alias("found_exact"),
            "converged_hop",
        )
    )


# ------------------------------------------------- IVF-seeded build
# (VERDICT r12 tasks #3/#4 — the scale-safe plan the module docstring
# promised): seed candidate edges from IVF coarse lists instead of
# all pairs. Coarse seeds are md5-rank picks (the operators/ivfpq.py
# coarse_books shape) but with KC = max(8, ceil(n/256)) so list
# occupancy stays ~bounded as n grows; every node probes its
# nprobe=2 nearest lists and considers only their members (by
# primary assignment) as edge candidates → candidate work ≈
# n·nprobe·256, LINEAR in n (vs the exact build's n²). Assignment is
# TWO-LEVEL since r14 (VERDICT r13 task #4): ~3·n·√KC centroid evals
# instead of the flat n×KC scan the r13 audit measured at 18.5× wall
# for a 10× step — the build's last superlinear term, retired; the
# flat kernel survives only as the equivalence pin's ground truth.
# Edge quality is measured, not assumed: graph_ann_ivf_verdict
# carries per-query edge recall against the exact top-8 (bounded:
# exact GT computed for the |Q|=8 query nodes only, O(|Q|·n)).


def gann_books(emb: DataFrame):
    """KC×DIM int64 coarse-centroid matrix: md5-rank seed pick over
    the quantized corpus, KC = max(8, ceil(n/256)) (parameter-bounded
    collect — the books ARE the index's coarse quantizer; row order
    c = 0..KC−1 matches the oracle's row_number() − 1). Refuses
    loudly past GANN_KC_CEIL centroids (VERDICT r13 task #5): KC is
    corpus-proportional, and past ~16.7M rows the quantizer must come
    from bounded-sample training, not a corpus-rank collect."""
    import numpy as np

    q = _quantized(emb)
    n = q.count()
    kc = max(_GANN_KC_MIN, (n + _GANN_BUCKET - 1) // _GANN_BUCKET)
    if kc > GANN_KC_CEIL:
        raise ValueError(
            f"gann_books: KC={kc} coarse centroids (corpus n={n})"
            f" exceeds the driver-collect ceiling {GANN_KC_CEIL}."
            " Train the coarse quantizer from a bounded sample"
            " (operators/ivfpq.py coarse_books over ≤ ceiling rows)"
            " instead of the corpus-rank pick."
        )
    rows = (
        q.select(
            "vec_id",
            "qv",
            F.md5(
                F.concat(F.col("vec_id").cast("string"), F.lit(_GANN_TAG))
            ).alias("sk"),
        )
        .orderBy("sk", "vec_id")
        .limit(kc)
        .collect()
    )
    rows.sort(key=lambda r: (r["sk"], r["vec_id"]))
    return np.array([list(r["qv"]) for r in rows], dtype=np.int64)


def gann_super(books):
    """Two-level quantizer structure over the KC coarse centroids
    (section constants): md5-rank ⌈√KC⌉ super-seeds, each centroid
    assigned to its nearest super (exact integer d2 in float64, the
    ``int_rows`` bound, with s-asc ties), PLUS forced self-membership
    so every super-list provably contains its own seed centroid (no
    empty probed list can exist — the ADVICE r13 degenerate case is
    structurally gone). Returns (S, members): the ks×DIM float64
    super-centroid matrix and the per-super sorted centroid-id
    arrays. Deterministic twin of the oracle's sb/casg CTEs."""
    import hashlib
    import math

    import numpy as np

    kc = books.shape[0]
    s_int = math.isqrt(kc)
    ks = max(2, s_int if s_int * s_int == kc else s_int + 1)
    order = sorted(
        range(kc),
        key=lambda c: (
            hashlib.md5(f"{c}{_GANN_SUPER_TAG}".encode()).hexdigest(),
            c,
        ),
    )[:ks]
    Bf = books.astype(np.float64)
    S = Bf[order]
    # loud degenerate-supers guard (ADVICE r13 low, closed r15):
    # duplicate quantized seed vectors would send every centroid to
    # the FIRST duplicate (argmin first-min ties), leaving the other
    # super holding only its forced self-member while the SQL twin's
    # tie order could differ — assert distinctness instead of
    # diverging silently. Never fires on real embedding corpora
    # (identical 64-dim quantized centroids ⇒ identical input
    # vectors); a corpus that does trip it needs a different seed
    # tag, not a silent answer.
    if len(np.unique(S, axis=0)) != len(S):
        raise ValueError(
            "gann_super: duplicate quantized super-seed vectors — "
            "the two-level assignment tie contract requires distinct "
            f"seeds (tag {_GANN_SUPER_TAG!r}); choose another tag"
        )
    dcs = ((Bf[:, None, :] - S[None, :, :]) ** 2).sum(axis=2)
    super_of_c = dcs.argmin(axis=1)  # first min ⇒ s-asc ties
    members = [
        np.where(super_of_c == s)[0].astype(np.int64) for s in range(ks)
    ]
    for s, c in enumerate(order):  # forced self-membership
        if super_of_c[c] != s:
            members[s] = np.sort(np.append(members[s], c))
    return S, members


def _probes_df(emb: DataFrame, books, nprobe: int) -> DataFrame:
    """(vec_id, c, pr, qv): each vector's ``nprobe`` nearest coarse
    lists via the TWO-LEVEL assignment (section constants): one
    vectorized mapInPandas pass scores the ⌈√KC⌉ supers (n×√KC), then
    per probed super a segmented exact kernel scores only its member
    centroids — total ~3·n·√KC centroid evals instead of the flat
    n×KC (the r13 audit's 18.5×-at-10× arm, retired from the build;
    ``_probes_df_flat`` keeps it as small-SF ground truth). All
    distances exact ints in float64; ties (d2, c)-asc exactly as the
    oracle's vcand/asg CTEs; duplicate candidates from forced
    self-membership dedup'd before ranking. No shuffle, no n×KC
    work."""
    import numpy as np
    import pandas as pd

    B = books.astype(np.float64)
    bn = (B * B).sum(axis=1)
    S, members = gann_super(books)
    sn = (S * S).sum(axis=1)
    nsup = _GANN_SUPER_PROBE
    BIGC = np.int64(1) << 60

    def fn(it):
        for pdf in it:
            if not len(pdf):
                continue
            V = int_rows(pdf["qv"])
            vn = (V * V).sum(axis=1)
            Ds = vn[:, None] + sn[None, :] - 2 * (V @ S.T)
            topj = np.argsort(Ds, axis=1, kind="stable")[:, :nsup]
            nb = len(pdf)
            K = nsup * nprobe
            accd = np.full((nb, K), np.inf)
            accc = np.full((nb, K), BIGC, dtype=np.int64)
            for j in range(topj.shape[1]):
                sj = topj[:, j]
                for s in np.unique(sj):
                    rows = np.where(sj == s)[0]
                    M = members[s]  # sorted asc ⇒ stable sort = c-asc
                    D = (
                        vn[rows, None]
                        + bn[M][None, :]
                        - 2 * (V[rows] @ B[M].T)
                    )
                    take = min(nprobe, len(M))
                    idx = np.argsort(D, axis=1, kind="stable")[:, :take]
                    sl = slice(j * nprobe, j * nprobe + take)
                    accd[rows, sl] = np.take_along_axis(D, idx, axis=1)
                    accc[rows, sl] = M[idx]
            # per-node (d2, c)-asc over the ≤K survivors; a centroid
            # seen via two probed supers is adjacent after the sort
            # (same exact d2) — mask the repeat, rank the rest
            ordk = np.lexsort((accc, accd), axis=1)
            sd = np.take_along_axis(accd, ordk, 1)
            sc = np.take_along_axis(accc, ordk, 1)
            dup = np.zeros_like(sc, dtype=bool)
            dup[:, 1:] = sc[:, 1:] == sc[:, :-1]
            valid = (~dup) & np.isfinite(sd)
            rank = valid.cumsum(axis=1)
            pick = valid & (rank <= nprobe)
            ri, ci = np.where(pick)
            out = pdf.iloc[ri].copy()
            out["c"] = sc[ri, ci].astype("int32")
            out["pr"] = rank[ri, ci].astype("int32")
            yield out[["vec_id", "c", "pr", "qv"]]

    return _q32(emb).mapInPandas(
        fn, "vec_id long, c int, pr int, qv array<int>"
    )


def _probes_df_flat(emb: DataFrame, books, nprobe: int) -> DataFrame:
    """The r12/r13 FLAT assignment (one n×KC scan) — retired from the
    build (n²/256 long-term; measured 18.5× wall at a 10× step), kept
    as the small-SF ground truth the build==flat equivalence query
    and tests pin against."""
    import numpy as np
    import pandas as pd

    B = books.astype(np.float64)
    bn = (B * B).sum(axis=1)

    def fn(it):
        for pdf in it:
            if not len(pdf):
                continue
            V = int_rows(pdf["qv"])
            D = (V * V).sum(axis=1)[:, None] + bn[None, :] - 2 * (V @ B.T)
            idx = np.argsort(D, axis=1, kind="stable")[:, :nprobe]
            out = pdf.loc[pdf.index.repeat(idx.shape[1])].copy()
            out["c"] = idx.reshape(-1).astype("int32")
            out["pr"] = np.tile(
                np.arange(1, idx.shape[1] + 1), len(pdf)
            ).astype("int32")
            yield out[["vec_id", "c", "pr", "qv"]]

    return _q32(emb).mapInPandas(
        fn, "vec_id long, c int, pr int, qv array<int>"
    )


def _q32(emb: DataFrame) -> DataFrame:
    """Quantized corpus with int32 components: |qv| ≤ 2.4e6 < 2^31,
    and halving the Arrow payload halves the probes frame's dominant
    ser/de + checkpoint cost (at 100 TB, the shuffled index-build
    bytes); the kernels stack to float64 anyway."""
    return _quantized(emb).select(
        "vec_id", F.col("qv").cast("array<int>").alias("qv")
    )


def ivf_knn_topk(
    queries_emb: DataFrame,
    corpus_emb: DataFrame,
    books,
    deg: int = _DEG,
    nprobe: int = _GANN_NPROBE,
    assign: str = "hier",
    q_probes: DataFrame | None = None,
    m_probes: DataFrame | None = None,
) -> DataFrame:
    """(src, dst, d2, rnk): per query node, exact top-``deg`` among the
    corpus members (by primary assignment) of its ``nprobe`` probed
    coarse lists — the IVF-seeded candidate generation; ``rnk`` (long,
    1-based) orders a node's edges by (d2, dst). One shuffle
    of n·(nprobe+1) rows by list id, then ``tiled_topk`` keyed on the
    list id: per-list exact kernel, per-node global top-deg over
    ≤ nprobe·deg survivors. A (src, dst) pair cannot repeat: dst has
    exactly one primary list. ``assign`` picks the probe kernel:
    'hier' (the shipped two-level assignment) or 'flat' (the retired
    n×KC scan — ground truth for the equivalence pin only).

    Builds fresh from the corpus on EVERY call — the r15 cross-query
    _GRAPH_MEMO (an applicationId+fingerprint-keyed handle store) is
    removed per VERDICT r15 task #2. Within ONE call the returned
    frame is a lazy ``localCheckpoint`` so multi-reference consumers
    (the greedy walk's hops, verdict recall joins) read the
    materialized graph instead of replaying the build; lazy (not
    eager) keeps the foreachBatch streaming callers legal. At cluster
    scale the corpus-proportional graph belongs in spill-safe
    replicated storage (reliable checkpoint dir) rather than
    executor-local blocks; local[*] has no executor loss, so the
    cheaper localCheckpoint is used here.

    ``q_probes`` / ``m_probes`` accept an already-computed
    ``_probes_df(emb, books, nprobe)`` frame for the matching side
    (WITHIN one declared query/run — the streaming graph-maintenance
    runners assign the frozen base/corpus slice once per RUN instead
    of twice per micro-batch). The per-row assignment kernel is
    deterministic, so a filtered/unioned precomputed frame is
    row-identical to recomputing on the filtered/unioned input; the
    primary assignment is the ``pr == 1`` slice of the nprobe frame
    exactly as in the self-build branch."""
    probes = _probes_df if assign == "hier" else _probes_df_flat
    if queries_emb is corpus_emb and m_probes is None:
        # self-build: ONE assignment pass serves both sides (probe
        # rank 1 IS the primary assignment) — the n-row probes frame
        # is cut so the cogroup's two inputs don't recompute it
        qf = (
            q_probes
            if q_probes is not None
            else probes(queries_emb, books, nprobe).localCheckpoint()
        )
        mf = qf
    else:
        qf = (
            q_probes
            if q_probes is not None
            else probes(queries_emb, books, nprobe)
        )
        mf = m_probes if m_probes is not None else probes(corpus_emb, books, 1)
    out = tiled_topk(
        qf, mf.filter(F.col("pr") == 1), deg, "d2", on="c"
    ).select("src", "dst", "d2", F.col("rank").alias("rnk"))
    return out.localCheckpoint(eager=False)


_QV_CTE = """qv AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(x * 1e6) AS BIGINT)) AS qv
      FROM embeddings
    )"""

_IVF_BUILD_SQL = materialize_ctes(
    f"""WITH {_QV_CTE},
    {_ivf_knn_ctes()}
    SELECT src, dst, d2, CAST(rnk AS BIGINT) AS rnk FROM knn"""
)


@query("graph_ann_ivf_build", _IVF_BUILD_SQL)
def graph_ann_ivf_build(spark, sf_dir):
    """The IVF-seeded kNN-graph build (section comment): every edge
    exact within the probed-list candidate set, candidate work
    ~linear in n. This is the graph the at-scale walk serves from;
    the exact n² build stays as small-SF ground truth
    (graph_ann_greedy_search) and as the verdict's per-query recall
    reference."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_knn_topk(emb, emb, gann_books(emb))


_IVF_VERDICT_SQL = materialize_ctes(
    f"""WITH {_graph_ctes(_ivf_knn_ctes())},
    exactnn AS (
      SELECT query_id, node AS exact_nn, d2 AS exact_d2 FROM (
        SELECT qs.query_id, v.vec_id AS node,
               {_L2.format(a="v.qv", b="qs.qqv")} AS d2,
               row_number() OVER (PARTITION BY qs.query_id
                                  ORDER BY {_L2.format(a="v.qv", b="qs.qqv")},
                                           v.vec_id) AS rn
        FROM qs CROSS JOIN qv v WHERE v.vec_id <> qs.query_id
      ) WHERE rn = 1
    ),
    exact8 AS (
      SELECT query_id, node FROM (
        SELECT qs.query_id, v.vec_id AS node,
               row_number() OVER (PARTITION BY qs.query_id
                                  ORDER BY {_L2.format(a="v.qv", b="qs.qqv")},
                                           v.vec_id) AS rn
        FROM qs CROSS JOIN qv v WHERE v.vec_id <> qs.query_id
      ) WHERE rn <= {_DEG}
    ),
    recall AS (
      SELECT e.query_id, CAST(count(k.dst) AS BIGINT) AS edge_recall8
      FROM exact8 e
      LEFT JOIN knn k ON k.src = e.query_id AND k.dst = e.node
      GROUP BY 1
    ),
    fin AS (
      SELECT query_id, node AS final_node, d2 AS final_d2
      FROM hop{_HOPS}
    ),
    conv AS (
      SELECT t.query_id, CAST(min(t.hop) AS BIGINT) AS converged_hop
      FROM trajectory t JOIN fin f ON f.query_id = t.query_id
                                  AND t.d2 = f.final_d2
      GROUP BY 1
    )
    SELECT f.query_id, f.final_node, f.final_d2,
           e.exact_nn, e.exact_d2,
           f.final_d2 = e.exact_d2 AS found_exact,
           c.converged_hop, r.edge_recall8
    FROM fin f
    JOIN exactnn e ON e.query_id = f.query_id
    JOIN conv c ON c.query_id = f.query_id
    JOIN recall r ON r.query_id = f.query_id"""
)


@query("graph_ann_ivf_verdict", _IVF_VERDICT_SQL)
def graph_ann_ivf_verdict(spark, sf_dir):
    """Honest quality report of the IVF-seeded graph, in the
    graph_ann_search_verdict shape plus per-query EDGE RECALL: the
    same greedy walk over the IVF-built graph, final node vs the
    true NN (exact corpus argmin — bounded, |Q|=8 queries only), and
    edge_recall8 = |ivf edges of the query node ∩ its exact top-8|
    (the ivfpq_recall_at5 discipline applied to graph edges). The
    walk is the existing O(|Q|·degree·hops) serving path; only the
    build changed — ~linear candidate work instead of n²."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = gann_books(emb)
    knn = ivf_knn_topk(emb, emb, books)
    return _ivf_verdict_from(spark, sf_dir, knn)


def _ivf_verdict_from(spark, sf_dir, knn) -> DataFrame:
    """Walk + verdict + edge recall over a supplied IVF graph frame —
    shared by the direct and the persist/reload round-trip paths."""
    emb = load_table(spark, sf_dir, "embeddings")
    traj = _trajectory(spark, sf_dir, knn=knn).localCheckpoint()
    verdict = _verdict_frame(spark, sf_dir, traj)
    exact8 = l2_knn_topk(emb.filter(F.col("vec_id") < _NQ), emb).select(
        F.col("src").alias("query_id"), F.col("dst").alias("node")
    )
    # only the |Q| query nodes' edges matter for recall — filter
    # BEFORE broadcast (≤ |Q|·deg rows, never the whole graph)
    hits = knn.filter(F.col("src") < _NQ).select(
        F.col("src").alias("query_id"),
        F.col("dst").alias("node"),
        F.lit(1).alias("hit"),
    )
    recall = (
        exact8.join(F.broadcast(hits), ["query_id", "node"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("edge_recall8")
        )
    )
    return verdict.join(recall, "query_id")


_BASE_PRED = "vec_id % 10 <> 7"

_INCR_SQL = materialize_ctes(
    f"""WITH {_QV_CTE},
    {_ivf_knn_ctes(base_pred=_BASE_PRED)}
    SELECT src, dst, CAST(rnk AS BIGINT) AS rnk FROM knn"""
)


@query("graph_ann_incremental_insert", _INCR_SQL)
def graph_ann_incremental_insert(spark, sf_dir):
    """Graph-index maintenance — incremental INSERT pinned as
    insert == frozen-books rebuild (the FAISS ``add`` semantics; the
    graph-family sibling of ivfpq_upsert_serve), REWORKED in r13 to
    the IVF-seeded build (VERDICT r12 task #4 — the previous exact
    version was arrivals × full corpus, measured 34× at a 10× step):
    ~10% of vectors (vec_id % 10 == 7) arrive AFTER the base graph
    is built; the coarse books are FROZEN from the base corpus (a
    production index does not re-pick centroids on insert). Arriving
    nodes probe their nprobe lists and edge against the members;
    each base node re-ranks over (its old edges ∪ the arrivals in
    its probed lists) — an EXACT identity with frozen books, since
    the rebuild's candidate set for any node is exactly the union.
    The oracle IS the frozen-books rebuild; work is ~linear in
    n + arrivals."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.expr(_BASE_PRED))
    arriving = emb.filter(~F.expr(_BASE_PRED))
    books = gann_books(base)
    w = Window.partitionBy("src").orderBy("d2", "dst")
    base_graph = ivf_knn_topk(base, base, books)
    base_cand = ivf_knn_topk(base, arriving, books)
    upd = (
        base_graph.unionByName(base_cand)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _DEG)
    )
    arr_edges = ivf_knn_topk(arriving, emb, books)
    return upd.select("src", "dst", "rnk").unionByName(
        arr_edges.select("src", "dst", "rnk")
    )


# graph-index DELETE maintenance (r14 — completes the family's
# lifecycle next to insert/roundtrip/upsert-by-rebuild): ~10% of
# vectors are tombstoned; coarse books stay FROZEN (a delete never
# re-picks centroids) and ONLY the nodes that actually lost an edge
# re-scan their probed lists — every other surviving node keeps its
# edges verbatim, which IS the rebuild's answer for it: its candidate
# set only shrank and its full top-{_DEG} survived, so nothing can
# displace them. The oracle is the frozen-books rebuild over the
# survivors — delete == rebuild, the FAISS remove_ids identity, with
# repair work proportional to |affected| not n.
_DEL_PRED = "vec_id % 10 <> 3"  # survivors; vec_id % 10 = 3 deleted

_DELETE_SQL = materialize_ctes(
    f"""WITH {_QV_CTE},
    {_ivf_knn_ctes(node_pred=_DEL_PRED)}
    SELECT src, dst, d2, CAST(rnk AS BIGINT) AS rnk FROM knn"""
)


@query("graph_ann_delete_repair", _DELETE_SQL)
def graph_ann_delete_repair(spark, sf_dir):
    """Tombstone-delete repair of the IVF-seeded graph (section
    comment): pre-delete index + tombstone set → pass through every
    surviving node whose edges all survive, re-rank ONLY the affected
    nodes against the surviving members of their probed lists (books
    frozen). Output = the full post-delete graph; the oracle rebuilds
    from survivors, pinning repair == rebuild exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    survivors = emb.filter(F.expr(_DEL_PRED))
    books = gann_books(emb)  # frozen from the PRE-delete corpus
    base_graph = ivf_knn_topk(emb, emb, books)
    deleted = emb.filter(~F.expr(_DEL_PRED)).select(
        F.col("vec_id").alias("dst")
    )
    affected = (
        base_graph.join(F.broadcast(deleted), "dst")
        .select("src")
        .distinct()
    )
    # survivors that lost no edge: their rebuild top-8 is their old
    # top-8 (candidates only shrank, all 8 survived) — pass through,
    # old rnk still correct (the surviving edge order is unchanged)
    surviving_srcs = survivors.select(F.col("vec_id").alias("src"))
    keep = (
        base_graph.join(surviving_srcs, "src", "semi")
        .join(affected, "src", "left_anti")
        .select("src", "dst", "d2", "rnk")
    )
    aff_emb = survivors.join(
        affected.withColumnRenamed("src", "vec_id"), "vec_id", "semi"
    )
    return keep.unionByName(ivf_knn_topk(aff_emb, survivors, books))


# ------------------------------- build==flat equivalence pin (r14)
# The r13 audit measured the two-level assignment (9.3x fewer evals;
# the flat arm 18.5x wall at a 10x step) and r14 switched the BUILD to
# it (_probes_df). This query is the audit REPURPOSED as a regression
# pin (VERDICT r13 task #4 done-criterion): build the graph BOTH ways
# in one query and report exact edge-set agreement plus the exact
# centroid-evaluation counts of each strategy. On the gated corpora
# the two builds coincide or nearly so (small KC => the 2 probed
# supers cover most centroids); the oracle recomputes both chains in
# SQL, so the numbers are pinned whatever they are, and the shipped
# hierarchical kernel can never silently drift from the flat ground
# truth without this row changing.


def _flat_knn_ctes() -> str:
    """The retired FLAT assignment chain as suffixed CTEs (fasg/fmem/
    fgcand/fknn) — the equivalence query's ground-truth arm (expects
    qv + cb defined by the hierarchical chain)."""
    d2vc = _L2.format(a="v.qv", b="cb.ccqv")
    d2ab = _L2.format(a="a.qv", b="b.qv")
    return f"""fasg AS (
      SELECT vec_id, c, pr FROM (
        SELECT v.vec_id, cb.c,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {d2vc}, cb.c) AS pr
        FROM qv v CROSS JOIN cb
      ) WHERE pr <= {_GANN_NPROBE}
    ),
    fmem AS (SELECT vec_id, c FROM fasg WHERE pr = 1),
    fgcand AS (
      SELECT p.vec_id AS src, m.vec_id AS dst
      FROM fasg p JOIN fmem m ON m.c = p.c AND m.vec_id <> p.vec_id
    ),
    fknn AS (
      SELECT src, dst, d2,
             row_number() OVER (PARTITION BY src
                                ORDER BY d2, dst) AS rnk
      FROM (
        SELECT g.src, g.dst, {d2ab} AS d2
        FROM fgcand g
        JOIN qv a ON a.vec_id = g.src
        JOIN qv b ON b.vec_id = g.dst
      )
      QUALIFY rnk <= {_DEG}
    )"""


_EQUIV_SQL = materialize_ctes(
    f"""WITH {_QV_CTE},
    {_ivf_knn_ctes()},
    {_flat_knn_ctes()},
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qv),
    kk AS (SELECT CAST(count(*) AS BIGINT) AS kc FROM cb),
    eh AS (SELECT src, dst FROM knn),
    ef AS (SELECT src, dst FROM fknn),
    cm AS (SELECT CAST(count(*) AS BIGINT) AS edges_common
           FROM eh JOIN ef USING (src, dst))
    SELECT nn.n, kk.kc, ks.ks1,
           (SELECT CAST(count(*) AS BIGINT) FROM eh) AS edges_hier,
           (SELECT CAST(count(*) AS BIGINT) FROM ef) AS edges_flat,
           cm.edges_common,
           (SELECT count(*) FROM eh) = (SELECT count(*) FROM ef)
             AND cm.edges_common = (SELECT count(*) FROM eh)
             AS identical,
           nn.n * kk.kc AS evals_flat,
           nn.n * ks.ks1
             + (SELECT CAST(count(*) AS BIGINT) FROM vcand)
             AS evals_hier
    FROM nn CROSS JOIN kk CROSS JOIN ks CROSS JOIN cm"""
)


@query("graph_ann_build_flat_equiv", _EQUIV_SQL)
def graph_ann_build_flat_equiv(spark, sf_dir):
    """Build==flat equivalence pin (section comment): the SHIPPED
    two-level build and the retired flat-assignment build computed
    side by side — exact edge-set intersection counts, the identical
    verdict, and the exact centroid-evaluation counts (evals_flat =
    n*KC vs evals_hier = n*ks1 + sum(|cand(v)|)) that justified the
    switch. Spark computes candidate volume in closed form from the
    super structure (distinct-union via the precomputed pairwise
    member-overlap matrix — exact, no extra corpus pass)."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    books = gann_books(emb)
    kc = books.shape[0]
    S, members = gann_super(books)
    ks1 = len(members)
    eh = ivf_knn_topk(emb, emb, books).select("src", "dst")
    ef = ivf_knn_topk(emb, emb, books, assign="flat").select(
        "src", "dst"
    )
    # exact per-node candidate volume: |members(s1) u members(s2)| =
    # m1 + m2 - overlap, overlap precomputed ks x ks (tiny)
    msets = [set(m.tolist()) for m in members]
    mcnt = np.array([len(m) for m in members], dtype=np.int64)
    ovl = np.zeros((ks1, ks1), dtype=np.int64)
    for i in range(ks1):
        for j in range(ks1):
            ovl[i, j] = len(msets[i] & msets[j]) if i != j else mcnt[i]
    bn = (S * S).sum(axis=1)

    def fn(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            V = int_rows(pdf["qv"])
            Ds = (
                (V * V).sum(axis=1)[:, None]
                + bn[None, :]
                - 2 * (V @ S.T)
            )
            topj = np.argsort(Ds, axis=1, kind="stable")[
                :, :_GANN_SUPER_PROBE
            ]
            s1, s2 = topj[:, 0], topj[:, -1]
            cands = mcnt[s1] + np.where(
                s2 != s1, mcnt[s2] - ovl[s1, s2], 0
            )
            yield pd.DataFrame(
                {"cnt": [len(pdf)], "cands": [int(cands.sum())]}
            )

    vol = (
        _q32(emb)
        .mapInPandas(fn, "cnt long, cands long")
        .agg(
            F.sum("cnt").alias("n_"),
            F.sum("cands").alias("cands_"),
        )
        .localCheckpoint(eager=True)
    )
    both = eh.withColumnRenamed("src", "s").alias("h").join(
        ef.alias("f"),
        (F.col("h.s") == F.col("f.src")) & (F.col("h.dst") == F.col("f.dst")),
    )
    stats = (
        vol.crossJoin(eh.agg(F.count("*").cast("long").alias("edges_hier")))
        .crossJoin(ef.agg(F.count("*").cast("long").alias("edges_flat")))
        .crossJoin(
            both.agg(F.count("*").cast("long").alias("edges_common"))
        )
    )
    return stats.select(
        F.col("n_").alias("n"),
        F.lit(kc).cast("long").alias("kc"),
        F.lit(ks1).cast("long").alias("ks1"),
        "edges_hier",
        "edges_flat",
        "edges_common",
        (
            (F.col("edges_hier") == F.col("edges_flat"))
            & (F.col("edges_common") == F.col("edges_hier"))
        ).alias("identical"),
        (F.col("n_") * F.lit(kc)).cast("long").alias("evals_flat"),
        (F.col("n_") * F.lit(ks1) + F.col("cands_"))
        .cast("long")
        .alias("evals_hier"),
    )



@query("r25_stream_graph_insert", _INCR_SQL)
def r25_stream_graph_insert(spark, sf_dir):
    """Streaming IVF-graph maintenance (20th stream==batch pin;
    streaming/filesource.stream_graph_insert_run): coarse books are
    FROZEN from the base slice ({_BASE_PRED}); the arriving slice
    streams in as four mtime-ordered files — one micro-batch each —
    plus a replay of the first file that must contribute zero (the
    already-a-member anti-join + per-batch partition overwrite, the
    r17/r19 no-ledger construction). The graph state is per-batch
    IMMUTABLE top-8 edge fragments; the final per-src re-rank over
    all fragments must equal the batch frozen-books rebuild bit for
    bit — the SAME oracle as graph_ann_incremental_insert."""
    import os

    from etl_mp_transactions_spark.streaming import filesource
    from etl_mp_transactions_spark.workdirs import run_dir

    emb = load_table(spark, sf_dir, "embeddings")
    work = run_dir("r25_graph")
    arriving = emb.filter(~F.expr(_BASE_PRED)).withColumn(
        "g", F.expr("(vec_id div 10) % 4")
    )
    stage = filesource.stage_arrivals(arriving, os.path.join(work, "in"))
    base = emb.filter(F.expr(_BASE_PRED))
    books = gann_books(base)
    return filesource.stream_graph_insert_run(
        spark,
        stage,
        os.path.join(work, "ckpt"),
        os.path.join(work, "state"),
        base,
        books,
    )


@query("graph_ann_index_roundtrip", _IVF_VERDICT_SQL)
def graph_ann_index_roundtrip(spark, sf_dir):
    """Graph-index artifact round trip (the ivfpq_index_roundtrip
    discipline applied to the graph family): build the IVF-seeded
    graph, PERSIST it as the parquet index artifact, reload it cold,
    and serve the full walk + verdict + edge-recall path from the
    reloaded frame. The oracle is the direct path's — byte-identical
    serving from a reloaded artifact is the pinned property (a
    deployed graph index is always served from storage, never from
    the builder's memory)."""
    import os

    from etl_mp_transactions_spark.workdirs import run_dir

    emb = load_table(spark, sf_dir, "embeddings")
    books = gann_books(emb)
    art = os.path.join(run_dir("gann_idx"), "graph")
    ivf_knn_topk(emb, emb, books).drop("rnk").write.mode(
        "overwrite"
    ).parquet(art)
    reloaded = spark.read.schema("src long, dst long, d2 long").parquet(
        art
    )
    return _ivf_verdict_from(spark, sf_dir, reloaded)


# ------------------------------------------------- filtered walk
# Metadata-filtered graph search, post-filter flavor: walk the
# UNFILTERED graph (the serving path already pinned above), then
# answer the filtered query from the walk's VISITED SET — the
# candidates the walk actually scored. The honest question this
# answers (the ivfpq_filtered_* sibling): how often does the
# unfiltered walk's neighborhood contain the true label-matching
# nearest neighbor? Production systems that need guarantees expand
# neighbor lists under the filter (ACORN); this measures whether
# that machinery is even needed at a given selectivity.

_FILT_WALK_SQL = materialize_ctes(
    f"""WITH {_graph_ctes(_ivf_knn_ctes())},
    visited AS (
      SELECT DISTINCT query_id, node FROM (
        SELECT query_id, node FROM trajectory
        UNION ALL
        SELECT t.query_id, k.dst AS node
        FROM trajectory t JOIN knn k ON k.src = t.node
      )
    ),
    qlab AS (
      SELECT vec_id AS query_id, label AS ql FROM embeddings
      WHERE vec_id < {_NQ}
    ),
    filt AS (
      SELECT query_id, node, d2 FROM (
        SELECT w.query_id, w.node,
               {_L2.format(a="v.qv", b="qs.qqv")} AS d2,
               row_number() OVER (PARTITION BY w.query_id
                                  ORDER BY {_L2.format(a="v.qv", b="qs.qqv")},
                                           w.node) AS rn
        FROM visited w
        JOIN embeddings e ON e.vec_id = w.node
        JOIN qlab q ON q.query_id = w.query_id AND e.label = q.ql
        JOIN qv v ON v.vec_id = w.node
        JOIN qs ON qs.query_id = w.query_id
        WHERE w.node <> w.query_id
      ) WHERE rn = 1
    ),
    exactf AS (
      SELECT query_id, node, d2 FROM (
        SELECT qs.query_id, v.vec_id AS node,
               {_L2.format(a="v.qv", b="qs.qqv")} AS d2,
               row_number() OVER (PARTITION BY qs.query_id
                                  ORDER BY {_L2.format(a="v.qv", b="qs.qqv")},
                                           v.vec_id) AS rn
        FROM qs
        JOIN qlab q ON q.query_id = qs.query_id
        JOIN embeddings e ON e.label = q.ql
        JOIN qv v ON v.vec_id = e.vec_id
        WHERE v.vec_id <> qs.query_id
      ) WHERE rn = 1
    )
    SELECT q.query_id, CAST(q.ql AS BIGINT) AS qlabel,
           f.node AS filt_node, f.d2 AS filt_d2,
           e.node AS exact_filt_nn, e.d2 AS exact_filt_d2,
           f.d2 = e.d2 AS found_exact
    FROM qlab q
    LEFT JOIN filt f USING (query_id)
    LEFT JOIN exactf e USING (query_id)"""
)


@query("graph_ann_filtered_walk", _FILT_WALK_SQL)
def graph_ann_filtered_walk(spark, sf_dir):
    """Label-filtered search over the IVF graph (section comment):
    the unfiltered greedy walk's visited set (hop nodes ∪ their
    neighbor lists — everything the walk scored), post-filtered to
    the query's label, argmin — reported against the exact filtered
    NN (bounded GT: |Q|·n label-matching argmin). found_exact
    measures per query whether post-filtering the walk suffices at
    this selectivity or ACORN-style filtered expansion is needed."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = gann_books(emb)
    knn = ivf_knn_topk(emb, emb, books).select(
        "src", "dst"
    )
    traj = _trajectory(spark, sf_dir, knn=knn).localCheckpoint()
    q = _quantized(emb)
    qs = q.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv")
    )
    qlab = emb.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("ql")
    )
    visited = (
        traj.select("query_id", "node")
        .unionByName(
            F.broadcast(traj.select("query_id", "node"))
            .join(knn, traj["node"] == knn["src"])
            .select("query_id", F.col("dst").alias("node"))
        )
        .distinct()
    )
    lab = emb.select(F.col("vec_id").alias("node"), "label")
    w = Window.partitionBy("query_id").orderBy("d2", "node")
    filt = (
        visited.join(lab, "node")
        .join(F.broadcast(qlab), "query_id")
        .filter(
            (F.col("label") == F.col("ql"))
            & (F.col("node") != F.col("query_id"))
        )
        .join(q.select(F.col("vec_id").alias("node"), "qv"), "node")
        .join(F.broadcast(qs), "query_id")
        .select("query_id", "node", _d2_expr().alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("node").alias("filt_node"),
            F.col("d2").alias("filt_d2"),
        )
    )
    exactf = (
        q.select(F.col("vec_id").alias("node"), "qv")
        .join(lab, "node")
        .crossJoin(F.broadcast(qs.join(qlab, "query_id")))
        .filter(
            (F.col("label") == F.col("ql"))
            & (F.col("node") != F.col("query_id"))
        )
        .select("query_id", "node", _d2_expr().alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("node").alias("exact_filt_nn"),
            F.col("d2").alias("exact_filt_d2"),
        )
    )
    return (
        qlab.select("query_id", F.col("ql").cast("long").alias("qlabel"))
        .join(filt, "query_id", "left")
        .join(exactf, "query_id", "left")
        .select(
            "query_id",
            "qlabel",
            "filt_node",
            "filt_d2",
            "exact_filt_nn",
            "exact_filt_d2",
            (F.col("filt_d2") == F.col("exact_filt_d2")).alias(
                "found_exact"
            ),
        )
    )


@query("r26_stream_graph_delete", _DELETE_SQL)
def r26_stream_graph_delete(spark, sf_dir):
    """Streaming graph-index DELETE maintenance (21st stream==batch
    pin; streaming/filesource.stream_graph_delete_run): coarse books
    FROZEN from the pre-delete corpus; the tombstone set (vec_id %
    10 = 3) streams in as four mtime-ordered id files — one
    micro-batch each — plus a replay of the first file that must
    contribute zero (already-tombstoned anti-join + per-batch
    partition overwrite, the r22 no-ledger construction). Each batch
    repairs ONLY the nodes whose current edges hit the batch's new
    tombstones; the final latest-fragment view must equal the batch
    ``graph_ann_delete_repair`` — the SAME oracle (frozen-books
    rebuild over survivors)."""
    import os

    from etl_mp_transactions_spark.streaming import filesource
    from etl_mp_transactions_spark.workdirs import run_dir

    emb = load_table(spark, sf_dir, "embeddings")
    work = run_dir("r26_graph_del")
    tombs = emb.filter(~F.expr(_DEL_PRED)).select("vec_id").withColumn(
        "g", F.expr("(vec_id div 10) % 4")
    )
    stage = filesource.stage_arrivals(tombs, os.path.join(work, "in"))
    books = gann_books(emb)
    return filesource.stream_graph_delete_run(
        spark,
        stage,
        os.path.join(work, "ckpt"),
        os.path.join(work, "state"),
        emb,
        books,
    )


# ---------------------------------------------- coarse-routed walk
# The r14 two-level quantizer also upgrades SERVING: instead of the
# deterministic-but-arbitrary global-min-id entry, route each query
# to its primary coarse list and enter the walk at the nearest
# cohabitant — the HNSW upper-layer idea expressed with the machinery
# the build already has (the list is the query's ~256-member
# neighborhood, so the walk starts near the answer instead of
# crossing the corpus). Entry candidates = primary-list cohabitants
# at priority 0 with the global-min-id node as a priority-1 fallback
# (a singleton list can never strand a query); pick = (priority, d2,
# node) argmin — deterministic, bounded by the bucket size.

_ROUTED_ENTRY = f"""entry AS (
      SELECT query_id, node FROM (
        SELECT c.query_id, c.node, c.prio,
               row_number() OVER (PARTITION BY c.query_id
                                  ORDER BY c.prio,
                                           {_L2.format(a="v.qv", b="qs2.qqv")},
                                           c.node) AS rn
        FROM (
          SELECT qs.query_id, m.vec_id AS node, 0 AS prio
          FROM qs
          JOIN asg qa ON qa.vec_id = qs.query_id AND qa.pr = 1
          JOIN mem m ON m.c = qa.c AND m.vec_id <> qs.query_id
          UNION ALL
          SELECT qs.query_id, min(v.vec_id) AS node, 1 AS prio
          FROM qs CROSS JOIN qv v WHERE v.vec_id <> qs.query_id
          GROUP BY qs.query_id
        ) c
        JOIN qv v ON v.vec_id = c.node
        JOIN qs qs2 ON qs2.query_id = c.query_id
      ) WHERE rn = 1
    )"""

_ROUTED_SQL = materialize_ctes(
    f"""WITH {_graph_ctes(_ivf_knn_ctes(), entry_cte=_ROUTED_ENTRY)},
    exactnn AS (
      SELECT query_id, node AS exact_nn, d2 AS exact_d2 FROM (
        SELECT qs.query_id, v.vec_id AS node,
               {_L2.format(a="v.qv", b="qs.qqv")} AS d2,
               row_number() OVER (PARTITION BY qs.query_id
                                  ORDER BY {_L2.format(a="v.qv", b="qs.qqv")},
                                           v.vec_id) AS rn
        FROM qs CROSS JOIN qv v WHERE v.vec_id <> qs.query_id
      ) WHERE rn = 1
    ),
    fin AS (
      SELECT query_id, node AS final_node, d2 AS final_d2
      FROM hop{_HOPS}
    ),
    conv AS (
      SELECT t.query_id, CAST(min(t.hop) AS BIGINT) AS converged_hop
      FROM trajectory t JOIN fin f ON f.query_id = t.query_id
                                  AND t.d2 = f.final_d2
      GROUP BY 1
    )
    SELECT f.query_id, en.node AS entry_node, f.final_node, f.final_d2,
           e.exact_nn, e.exact_d2,
           f.final_d2 = e.exact_d2 AS found_exact,
           c.converged_hop
    FROM fin f
    JOIN entry en ON en.query_id = f.query_id
    JOIN exactnn e ON e.query_id = f.query_id
    JOIN conv c ON c.query_id = f.query_id"""
)


@query("graph_ann_routed_walk", _ROUTED_SQL)
def graph_ann_routed_walk(spark, sf_dir):
    """Coarse-routed greedy walk over the IVF-seeded graph (section
    comment): per query, entry = nearest primary-list cohabitant
    (global-min-id fallback at lower priority), then the standard
    T={_HOPS} greedy walk; verdict columns as graph_ann_ivf_verdict
    plus the chosen entry node. The routing pass is one bounded
    bucket scan per query — O(|Q|·bucket) — and the walk serves from
    the same persisted graph; tests pin routed convergence ≤ flat
    convergence hop-for-hop on this corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = gann_books(emb)
    knn = ivf_knn_topk(emb, emb, books)
    q = _quantized(emb)
    qs = q.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv")
    )
    p_all = _probes_df(emb, books, 1).select("vec_id", "c")
    qp = p_all.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"), "c"
    )
    cohab = (
        qp.join(
            p_all.select(F.col("vec_id").alias("node"), "c"), "c"
        )
        .filter(F.col("node") != F.col("query_id"))
        .select("query_id", "node", F.lit(0).alias("prio"))
    )
    fallback = (
        q.select("vec_id")
        .crossJoin(F.broadcast(qs.select("query_id")))
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id")
        .agg(F.min("vec_id").alias("node"))
        .select("query_id", "node", F.lit(1).alias("prio"))
    )
    scored = (
        cohab.unionByName(fallback)
        .join(q.select(F.col("vec_id").alias("node"), "qv"), "node")
        .join(F.broadcast(qs), "query_id")
        .select("query_id", "node", "prio", _d2_expr().alias("d2"))
    )
    w = Window.partitionBy("query_id").orderBy("prio", "d2", "node")
    entry = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "node")
        .localCheckpoint()
    )
    traj = _trajectory(spark, sf_dir, knn=knn, entry=entry)
    verdict = _verdict_frame(spark, sf_dir, traj.localCheckpoint())
    return verdict.join(
        F.broadcast(
            entry.select("query_id", F.col("node").alias("entry_node"))
        ),
        "query_id",
    ).select(
        "query_id",
        "entry_node",
        "final_node",
        "final_d2",
        "exact_nn",
        "exact_d2",
        "found_exact",
        "converged_hop",
    )
