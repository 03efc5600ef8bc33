"""Team-draft interleaving: the online A/B evaluation protocol for
two rankers (Radlinski, Kurup & Joachims, CIKM 2008) over the hybrid
arms (SURVEY.md §2.9 — the serving-experimentation side of the
retrieval family; no reference counterpart, north-star additions).

``interleave_teamdraft`` merges each query's lexical-BM25 and
semantic-L2 top-10 lists into one 10-position interleaved list: five
unrolled draft rounds, each opened by a deterministic coin (first hex
char of md5(query_id:round) < '8' → lexical drafts first — the
md5-rank seed-pick idiom, embeddings2 sign precedent), each team then
taking its highest-ranked not-yet-placed doc. ``interleave_ab_verdict``
applies a deterministic click model (label-match relevance on the
interleaved list, the hybrid_fusion_gain contract) and attributes
clicks to the drafting team — per-query win counts and the verdict,
i.e. the measured answer to "which ranker would win an online
interleaving experiment".

Exactness: positions, ranks, and click counts are exact BIGINTs; the
coin is a string comparison on a cross-engine-identical md5 hex; the
draft is an unrolled deterministic greedy (same class as the MMR
unroll — bounded pools, materialize_ctes on the DuckDB twin,
localCheckpoint-ed arm frames on the Spark side so 5 rounds replan
over ≤ 160 rows). The query set is the FIXED deterministic batch
(vec_id < _NQ) in both engines (ADVICE r12 — never derived from an
arm's output). When both teams hold full top-10 lists each round
finds both picks (before round r, 2(r−1) ≤ 8 docs are placed), so a
query emits 10 positions; a query whose arm came up short emits
correspondingly fewer, identically in both engines.

Scale shape: the arms are the hybrid module's (one corpus scan each,
two-phase top-k); everything here is |Q|·k-bounded."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_mp_transactions_spark.queries.hybrid import (
    _NQ,
    _lex_ctes,
    _sem_ctes,
)
from etl_mp_transactions_spark.queries.ivfpq_q import materialize_ctes
from etl_mp_transactions_spark.registry import query
from etl_mp_transactions_spark.sources.tables import load_table

_K = 10  # per-arm list depth interleaved
_ROUNDS = 5  # 2 picks per round -> 10 positions


# ---------------------------------------------------------------- DuckDB


def _draft_ctes() -> str:
    """armrows (both top-10 lists tagged by team) → 5 unrolled draft
    rounds of (first pick, second pick, placed-set union)."""
    rounds = []
    for r in range(1, _ROUNDS + 1):
        rounds.append(f""",
    f{r} AS (
      SELECT query_id,
             CASE WHEN substr(md5(query_id || ':{r}'), 1, 1) < '8'
                  THEN 'lex' ELSE 'sem' END AS first_team
      FROM qids
    ),
    p1_{r} AS (
      SELECT query_id, doc_id, team, src_rank,
             CAST({2 * r - 1} AS BIGINT) AS pos
      FROM (
        SELECT c.query_id, c.doc_id, c.team, c.src_rank,
               row_number() OVER (PARTITION BY c.query_id
                                  ORDER BY c.src_rank, c.doc_id) AS rn
        FROM armrows c
        JOIN f{r} f ON f.query_id = c.query_id
                   AND c.team = f.first_team
        WHERE NOT EXISTS (SELECT 1 FROM placed{r - 1} p
                          WHERE p.query_id = c.query_id
                            AND p.doc_id = c.doc_id)
      ) WHERE rn = 1
    ),
    p2_{r} AS (
      SELECT query_id, doc_id, team, src_rank,
             CAST({2 * r} AS BIGINT) AS pos
      FROM (
        SELECT c.query_id, c.doc_id, c.team, c.src_rank,
               row_number() OVER (PARTITION BY c.query_id
                                  ORDER BY c.src_rank, c.doc_id) AS rn
        FROM armrows c
        JOIN f{r} f ON f.query_id = c.query_id
                   AND c.team <> f.first_team
        WHERE NOT EXISTS (SELECT 1 FROM placed{r - 1} p
                          WHERE p.query_id = c.query_id
                            AND p.doc_id = c.doc_id)
          AND NOT EXISTS (SELECT 1 FROM p1_{r} q
                          WHERE q.query_id = c.query_id
                            AND q.doc_id = c.doc_id)
      ) WHERE rn = 1
    ),
    placed{r} AS (
      SELECT query_id, doc_id, team, src_rank, pos FROM placed{r - 1}
      UNION ALL
      SELECT query_id, doc_id, team, src_rank, pos FROM p1_{r}
      UNION ALL
      SELECT query_id, doc_id, team, src_rank, pos FROM p2_{r}
    )""")
    return f""",
    qids AS (
      SELECT vec_id AS query_id FROM embeddings WHERE vec_id < {_NQ}
    ),
    armrows AS (
      SELECT query_id, doc_id, 'lex' AS team,
             r_lex AS src_rank FROM lex WHERE r_lex <= {_K}
      UNION ALL
      SELECT query_id, doc_id, 'sem' AS team,
             r_sem AS src_rank FROM sem WHERE r_sem <= {_K}
    ),
    placed0 AS (
      SELECT CAST(NULL AS BIGINT) AS query_id,
             CAST(NULL AS BIGINT) AS doc_id,
             CAST(NULL AS VARCHAR) AS team,
             CAST(NULL AS BIGINT) AS src_rank,
             CAST(NULL AS BIGINT) AS pos
      WHERE FALSE
    ){"".join(rounds)}"""


_TEAMDRAFT_SQL = materialize_ctes(
    f"""WITH {_lex_ctes()}{_sem_ctes()}{_draft_ctes()}
    SELECT query_id, pos, doc_id, team, src_rank
    FROM placed{_ROUNDS}"""
)

_VERDICT_SQL = materialize_ctes(
    f"""WITH {_lex_ctes()}{_sem_ctes()}{_draft_ctes()},
    qlab AS (
      SELECT vec_id AS query_id, label AS qlabel FROM embeddings
      WHERE vec_id < {_NQ}
    ),
    clicks AS (
      SELECT i.query_id,
             CAST(sum(CASE WHEN i.team = 'lex' THEN 1 ELSE 0 END)
                  AS BIGINT) AS clicks_lex,
             CAST(sum(CASE WHEN i.team = 'sem' THEN 1 ELSE 0 END)
                  AS BIGINT) AS clicks_sem
      FROM placed{_ROUNDS} i
      JOIN embeddings e ON e.vec_id = i.doc_id
      JOIN qlab q ON q.query_id = i.query_id AND e.label = q.qlabel
      GROUP BY 1
    )
    SELECT q.query_id,
           coalesce(c.clicks_lex, 0) AS clicks_lex,
           coalesce(c.clicks_sem, 0) AS clicks_sem,
           CASE WHEN coalesce(c.clicks_lex, 0) > coalesce(c.clicks_sem, 0)
                THEN 'lex'
                WHEN coalesce(c.clicks_sem, 0) > coalesce(c.clicks_lex, 0)
                THEN 'sem'
                ELSE 'tie' END AS winner
    FROM qlab q LEFT JOIN clicks c ON c.query_id = q.query_id"""
)


# ----------------------------------------------------------------- Spark


def _interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_mp_transactions_spark.queries.hybrid import _lex_arm_build, _sem_arm_build

    lex = _lex_arm_build(spark, sf_dir).filter(F.col("r_lex") <= _K)
    sem = _sem_arm_build(spark, sf_dir).filter(F.col("r_sem") <= _K)
    armrows = (
        lex.select(
            "query_id",
            "doc_id",
            F.lit("lex").alias("team"),
            F.col("r_lex").alias("src_rank"),
        )
        .unionByName(
            sem.select(
                "query_id",
                "doc_id",
                F.lit("sem").alias("team"),
                F.col("r_sem").alias("src_rank"),
            )
        )
        # bounded 2*|Q|*K rows: the 5 draft rounds replan over this
        .localCheckpoint()
    )
    # the query set is the FIXED deterministic batch (vec_id < _NQ)
    # in BOTH engines (ADVICE r12: deriving it from an arm's output
    # made a query with an empty lexical top-10 appear in one engine
    # only — a latent data-dependent divergence)
    qids = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _NQ)
        .select(F.col("vec_id").alias("query_id"))
    )
    # r15 optimization (guide §1.2): the draft loop was unrolled as
    # _ROUNDS × (2 × (broadcast join + anti-join + window) +
    # localCheckpoint) — ~15 blocking jobs replanning over ≤ 160 rows.
    # The draft is per-query over a 2·K-bounded pool, so it runs as ONE
    # aggregate() expression over the collected arm rows: identical
    # coin (md5(query_id:round) first hex char < '8'), identical pick
    # (argmin (src_rank, doc_id) among the team's unplaced docs via
    # struct array_min), identical shorter-list behavior (empty pick
    # appends nothing). Nested transform-over-singleton-array lets
    # bind the coin and the mid-round state exactly once (the let1
    # idiom from operators/textdedup.py).
    cs_df = armrows.groupBy("query_id").agg(
        F.collect_list(
            F.struct(
                "doc_id", "team", F.col("src_rank").cast("long").alias("src_rank")
            )
        ).alias("cs")
    )
    g = qids.join(cs_df, "query_id", "left").select(
        "query_id",
        F.coalesce(
            "cs",
            F.expr(
                "cast(array() as"
                " array<struct<doc_id:bigint,team:string,src_rank:bigint>>)"
            ),
        ).alias("cs"),
    )

    def _pick(state: str, team_cmp: str, pos: str) -> str:
        """Append team's best unplaced (src_rank, doc_id) row, if any."""
        return f"""concat({state},
          transform(
            filter(array(
              array_min(transform(
                filter(cs, c -> c.team {team_cmp} ft
                            AND NOT exists({state},
                                           p -> p.doc_id = c.doc_id)),
                c -> struct(c.src_rank AS r, c.doc_id AS d,
                            c.team AS t)))),
              x -> x IS NOT NULL),
            x -> struct(x.d AS doc_id, x.t AS team, x.r AS src_rank,
                        CAST({pos} AS BIGINT) AS pos)))"""

    draft = f"""
      aggregate(
        sequence(1, {_ROUNDS}),
        cast(array() as
             array<struct<doc_id:bigint,team:string,
                          src_rank:bigint,pos:bigint>>),
        (acc, i) -> element_at(
          transform(
            array(CASE WHEN substring(md5(concat(
                           cast(query_id AS string), ':',
                           cast(i AS string))), 1, 1) < '8'
                       THEN 'lex' ELSE 'sem' END),
            ft -> element_at(
              transform(
                array({_pick("acc", "=", "2*i-1")}),
                a1 -> {_pick("a1", "!=", "2*i")}),
              1)),
          1))
    """
    return g.select(
        "query_id", F.explode(F.expr(draft)).alias("p")
    ).select(
        "query_id",
        F.col("p.doc_id").alias("doc_id"),
        F.col("p.team").alias("team"),
        F.col("p.src_rank").alias("src_rank"),
        F.col("p.pos").alias("pos"),
    )


@query("interleave_teamdraft", _TEAMDRAFT_SQL)
def interleave_teamdraft(spark, sf_dir):
    """Team-draft interleaved list (10 positions per query) of the
    lexical and semantic top-10 lists, with team attribution and the
    drafting rank carried."""
    return _interleaved(spark, sf_dir).select(
        "query_id", "pos", "doc_id", "team", "src_rank"
    )


@query("interleave_ab_verdict", _VERDICT_SQL)
def interleave_ab_verdict(spark, sf_dir):
    """Interleaving experiment verdict: label-match clicks on the
    interleaved list attributed to the drafting team; per-query
    clicks and the lex/sem/tie winner."""
    inter = _interleaved(spark, sf_dir)
    lab = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    qlab = lab.filter(F.col("doc_id") < _NQ).select(
        F.col("doc_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    clicks = (
        inter.join(lab, "doc_id")
        .join(F.broadcast(qlab), "query_id")
        .filter(F.col("label") == F.col("qlabel"))
        .groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("team") == "lex", 1).otherwise(0))
            .cast("long")
            .alias("clicks_lex"),
            F.sum(F.when(F.col("team") == "sem", 1).otherwise(0))
            .cast("long")
            .alias("clicks_sem"),
        )
    )
    z = F.lit(0).cast("long")
    out = qlab.select("query_id").join(clicks, "query_id", "left")
    cl = F.coalesce("clicks_lex", z)
    cs = F.coalesce("clicks_sem", z)
    return out.select(
        "query_id",
        cl.alias("clicks_lex"),
        cs.alias("clicks_sem"),
        F.when(cl > cs, F.lit("lex"))
        .when(cs > cl, F.lit("sem"))
        .otherwise(F.lit("tie"))
        .alias("winner"),
    )
