"""Capsule-assembly workloads (SURVEY §2.9 C1-C8 + G7) over the
synthetic metadata corpus — each runs the REAL CapsuleBuilder machinery
(operators/capsule.py) and is verified against a plain-SQL oracle that
re-derives the same result from the corpus CTEs.

Capsule assembly is driver-side by design (the token budget bounds every
collection to KBs — reference: capsule.py:136-205 and SURVEY §3.2), so
these workloads collect bounded sets, run the real driver logic, and
re-emit a DataFrame for the hash compare.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ariadne_dbt_spark.workloads import query
from ariadne_dbt_spark.workloads.meta_corpus import META_SQL, synthetic_index
from ariadne_dbt_spark.workloads.meta_ops import search_cte

# json.dumps({"unique_id": u, "name": n, "layer": l}) reconstructed in SQL —
# corpus strings contain no JSON-special characters, so plain concatenation
# reproduces the serialization byte-for-byte.
_ITEM_JSON_SQL = (
    "'{{\"unique_id\": \"' || {u} || '\", \"name\": \"' || {n} || "
    "'\", \"layer\": \"' || {l} || '\"}}'"
)


# --------------------------------------------------------------------------
# C1: token estimation — len(json.dumps(x)) // 4, min 1
# (reference: capsule.py:48-56) — real estimate_tokens vs SQL length math.
# --------------------------------------------------------------------------
@query(
    "meta_token_estimates",
    oracle=f"""
    WITH {META_SQL}
    SELECT unique_id,
           GREATEST(1, length({_ITEM_JSON_SQL.format(u='unique_id', n='name', l='layer')}) // 4)
           AS token_estimate
    FROM models
    JOIN (SELECT unique_id AS uid FROM m0 WHERE k < 20) s ON unique_id = s.uid
    ORDER BY unique_id
    """,
    survey="C1",
    doc="Token estimation parity: engine json.dumps//4 vs SQL-reconstructed "
    "serialization length.",
)
def meta_token_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ariadne_dbt_spark.operators.capsule import estimate_tokens

    idx = synthetic_index(spark, sf_dir)
    ids = [f"model.shop.m_{k}" for k in range(20)]
    rows = (
        idx.models.where(F.col("unique_id").isin(ids))
        .select("unique_id", "name", "layer")
        .collect()
    )
    out = [
        (r.unique_id, estimate_tokens({"unique_id": r.unique_id, "name": r.name, "layer": r.layer}))
        for r in rows
    ]
    return spark.createDataFrame(sorted(out), "unique_id string, token_estimate long")


# --------------------------------------------------------------------------
# C2/C3: greedy budget fill — the reference's break-vs-skip asymmetry
# (capsule.py:345-363): upstream/downstream BREAK on first overflow,
# pivots/tests SKIP it and keep trying smaller items. Variable-size items
# (payload repeated k%5 times) make the two strategies genuinely diverge.
# The oracle runs a recursive CTE carrying (position, running-total).
# --------------------------------------------------------------------------
_FILL_ALLOC = 900  # tokens; = int(4500 * BUDGET_FRACTIONS["upstream"])


@query(
    "meta_budget_fill_break_vs_skip",
    oracle=f"""
    WITH RECURSIVE {META_SQL},
    items AS (
        SELECT m.k, m.unique_id,
               repeat(m.description || ' ', CAST((m.k % 5) * 8 AS INT)) AS payload
        FROM m0 m WHERE m.k < 60),
    costed AS (
        SELECT k, unique_id,
               GREATEST(1, length('{{"unique_id": "' || unique_id ||
                                  '", "payload": "' || payload || '"}}') // 4) AS cost,
               ROW_NUMBER() OVER (ORDER BY k) AS rn
        FROM items),
    skipw(rn, used, kept) AS (
        SELECT 0, 0, CAST(NULL AS VARCHAR)
        UNION ALL
        SELECT c.rn,
               CASE WHEN w.used + c.cost <= {_FILL_ALLOC} THEN w.used + c.cost ELSE w.used END,
               CASE WHEN w.used + c.cost <= {_FILL_ALLOC} THEN c.unique_id ELSE NULL END
        FROM skipw w JOIN costed c ON c.rn = w.rn + 1),
    brk AS (
        SELECT unique_id, rn FROM (
            SELECT unique_id, rn,
                   SUM(cost) OVER (ORDER BY rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM costed)
        WHERE cum <= {_FILL_ALLOC})
    SELECT 'break' AS strategy, unique_id FROM brk
    UNION ALL
    SELECT 'skip', kept FROM skipw WHERE kept IS NOT NULL
    ORDER BY strategy, unique_id
    """,
    survey="C2,C3,C1,O5",
    doc="Greedy fill through the real greedy_fill: break keeps a strict "
    "prefix, skip hops overflowing items (reference: capsule.py:345-363).",
)
def meta_budget_fill_break_vs_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ariadne_dbt_spark.operators.capsule import greedy_fill

    idx = synthetic_index(spark, sf_dir)
    ids = [f"model.shop.m_{k}" for k in range(60)]
    rows = (
        idx.models.where(F.col("unique_id").isin(ids))
        .select("unique_id", "name", "description")
        .collect()
    )
    by_k = {int(r.name[2:]): r for r in rows}
    items = [
        {
            "unique_id": by_k[k].unique_id,
            "payload": (by_k[k].description + " ") * ((k % 5) * 8),
        }
        for k in sorted(by_k)
    ]
    out = []
    for strategy, brk in (("break", True), ("skip", False)):
        kept = greedy_fill(items, _FILL_ALLOC, break_on_overflow=brk)
        out += [(strategy, it["unique_id"]) for it in kept]
    return spark.createDataFrame(
        sorted(out), "strategy string, unique_id string"
    )


# --------------------------------------------------------------------------
# C4: 3-tier skeletonization — pivot=full, adjacent=schema-only,
# distant=minimal (name + count + key columns) — real builder methods
# (reference: capsule.py:61-117) flattened to a comparable frame.
# --------------------------------------------------------------------------
_TIER_PIVOT = "model.shop.m_31"


@query(
    "meta_skeleton_tiers",
    oracle=f"""
    WITH {META_SQL},
    up1 AS (SELECT parent_id AS uid, 1 AS distance FROM medges
            WHERE child_id = '{_TIER_PIVOT}' AND parent_id LIKE 'model.%'),
    down1 AS (SELECT child_id AS uid, 1 AS distance FROM medges
              WHERE parent_id = '{_TIER_PIVOT}' AND child_id LIKE 'model.%'),
    down2 AS (SELECT e.child_id AS uid, 2 AS distance
              FROM medges e JOIN down1 d ON e.parent_id = d.uid
              WHERE e.child_id LIKE 'model.%' AND e.child_id <> '{_TIER_PIVOT}'
                AND e.child_id NOT IN (SELECT uid FROM down1)),
    keyinfo AS (
        SELECT m.unique_id, (m.k % 4) + 2 AS n_cols,
               CASE WHEN m.k % 4 = 0 AND m.k % 5 = 0 THEN 'c0,c1'
                    WHEN m.k % 4 = 0 THEN 'c0'
                    WHEN m.k % 5 = 0 THEN 'c1'
                    ELSE '' END AS key_cols
        FROM m0 m)
    SELECT 'full' AS tier, unique_id, 0 AS distance, n_cols, key_cols
    FROM keyinfo WHERE unique_id = '{_TIER_PIVOT}'
    UNION ALL
    SELECT 'skeleton', u.uid, u.distance, k.n_cols, ''
    FROM up1 u JOIN keyinfo k ON u.uid = k.unique_id
    UNION ALL
    SELECT 'minimal', d.uid, d.distance, k.n_cols, k.key_cols
    FROM (SELECT * FROM down1 UNION ALL SELECT * FROM down2) d
    JOIN keyinfo k ON d.uid = k.unique_id
    ORDER BY tier, unique_id
    """,
    survey="C4,G6",
    doc="Tiered contexts around m_31 (up 1 = skeleton, down ≤2 = minimal) "
    "via the real _full/_skeleton/_minimal context builders.",
)
def meta_skeleton_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ariadne_dbt_spark.operators.capsule import CapsuleBuilder
    from ariadne_dbt_spark.operators.graph import DOWNSTREAM, UPSTREAM, bfs
    from ariadne_dbt_spark.operators.model_search import columns_with_tests_all

    idx = synthetic_index(spark, sf_dir)
    b = CapsuleBuilder(idx)
    up = [
        (r.unique_id, r.distance)
        for r in bfs(idx.edges, [_TIER_PIVOT], UPSTREAM, max_depth=1)
        .where(F.col("unique_id").startswith("model."))
        .collect()
    ]
    down = [
        (r.unique_id, r.distance)
        for r in bfs(idx.edges, [_TIER_PIVOT], DOWNSTREAM, max_depth=2)
        .where(F.col("unique_id").startswith("model."))
        .collect()
    ]
    wanted = [_TIER_PIVOT] + [u for u, _ in up] + [u for u, _ in down]
    rows = {
        r["unique_id"]: r.asDict()
        for r in idx.models.where(F.col("unique_id").isin(wanted)).collect()
    }
    cols: dict[str, list[dict]] = {u: [] for u in wanted}
    for r in columns_with_tests_all(idx, wanted).collect():
        cols[r["model_id"]].append(r.asDict())

    out = []
    full = b._full_context(rows[_TIER_PIVOT], cols[_TIER_PIVOT])
    keys = ",".join(c["name"] for c in full["columns"] if c["pk"] or c["fk"])
    out.append(("full", _TIER_PIVOT, 0, len(full["columns"]), keys))
    for u, d in up:
        sk = b._skeleton_context(rows[u], cols[u], d)
        out.append(("skeleton", u, d, len(sk["columns"]), ""))
    for u, d in down:
        mn = b._minimal_context(rows[u], cols[u], d)
        out.append(("minimal", u, d, mn["column_count"], ",".join(mn["key_columns"])))
    return spark.createDataFrame(
        sorted(out), "tier string, unique_id string, distance long, n_cols long, key_cols string"
    )


# --------------------------------------------------------------------------
# C5 + C6: pivot selection (explicit anchors first, search fill, cap 3)
# and confidence scoring from the score distribution
# (reference: capsule.py:209-304).
# --------------------------------------------------------------------------
@query(
    "meta_pivot_selection",
    oracle=f"""
    WITH {META_SQL},
    {search_cte("explore", limit=5)},
    ranked AS (
        SELECT unique_id, score_raw,
               ROW_NUMBER() OVER (ORDER BY score_raw DESC, unique_id) AS rn
        FROM rer),
    top5 AS (SELECT * FROM ranked WHERE rn <= 5),
    s AS (SELECT
            (SELECT COUNT(*) FROM top5) AS cnt,
            (SELECT score_raw FROM top5 WHERE rn = 1) AS s0,
            (SELECT score_raw FROM top5 WHERE rn = 2) AS s1,
            (SELECT score_raw FROM top5 WHERE rn = 3) AS s2),
    conf AS (
        SELECT CASE
            WHEN cnt >= 3 AND s2 > 0 AND s0 > 2 * s2 THEN 'high'
            WHEN cnt >= 2 AND s1 > 0 AND s0 > 1.5 * s1 THEN 'medium'
            WHEN cnt BETWEEN 1 AND 2 AND s0 > 5.0 THEN 'medium'
            ELSE 'low' END AS confidence
        FROM s)
    SELECT 'explicit' AS mode, 1 AS ord, 'model.shop.m_5' AS unique_id,
           'high' AS confidence
    UNION ALL
    SELECT 'explicit', 2, 'model.shop.m_8', 'high'
    UNION ALL
    SELECT 'search', rn, unique_id, (SELECT confidence FROM conf)
    FROM top5 WHERE rn <= 3
    ORDER BY mode, ord
    """,
    survey="C5,C6",
    doc="Pivot selection: explicit entry_models pin confidence=high; "
    "search fill takes top-3 of the limit-5 hit list and derives "
    "confidence from the score distribution.",
)
def meta_pivot_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ariadne_dbt_spark.operators.capsule import CapsuleBuilder, pivot_confidence

    idx = synthetic_index(spark, sf_dir)
    b = CapsuleBuilder(idx)
    out = []
    pv, scores, explicit = b._select_pivots(
        "zzz unfindable", "explore", None, ["m_5", "m_8"], None, 3
    )
    conf = pivot_confidence(explicit, scores)
    out += [("explicit", i + 1, u, conf) for i, u in enumerate(pv)]
    pv2, scores2, explicit2 = b._select_pivots(
        "red widget", "explore", None, None, None, 3
    )
    conf2 = pivot_confidence(explicit2, scores2)
    out += [("search", i + 1, u, conf2) for i, u in enumerate(pv2)]
    return spark.createDataFrame(
        sorted(out), "mode string, ord long, unique_id string, confidence string"
    )


# --------------------------------------------------------------------------
# C7: similar-models awareness — re-search excluding pivots∪up∪down,
# take 5 (reference: capsule.py:174-177) — through the REAL
# CapsuleBuilder.build (the capsule's own C7 step).
# --------------------------------------------------------------------------
@query(
    "meta_similar_models",
    oracle=f"""
    WITH {META_SQL},
    {search_cte("explore", limit=5)},
    pivots AS (
        SELECT unique_id FROM (
            SELECT unique_id, ROW_NUMBER() OVER (ORDER BY score_raw DESC, unique_id) AS rn
            FROM rer) WHERE rn <= 3),
    up1 AS (SELECT DISTINCT e.parent_id AS uid FROM medges e
            JOIN pivots p ON e.child_id = p.unique_id
            WHERE e.parent_id LIKE 'model.%'
              AND e.parent_id NOT IN (SELECT unique_id FROM pivots)),
    down1 AS (SELECT DISTINCT e.child_id AS uid FROM medges e
              JOIN pivots p ON e.parent_id = p.unique_id
              WHERE e.child_id LIKE 'model.%'
                AND e.child_id NOT IN (SELECT unique_id FROM pivots)),
    wanted AS (SELECT unique_id FROM pivots
               UNION SELECT uid FROM up1 UNION SELECT uid FROM down1),
    cand2 AS (SELECT doc_id, raw FROM cand0
              WHERE doc_id NOT IN (SELECT unique_id FROM wanted)),
    norm2 AS (
        SELECT doc_id,
               CASE WHEN (SELECT MAX(raw) FROM cand2) = (SELECT MIN(raw) FROM cand2)
                    THEN 1.0
                    ELSE (raw - (SELECT MIN(raw) FROM cand2))
                         / ((SELECT MAX(raw) FROM cand2) - (SELECT MIN(raw) FROM cand2))
               END AS nb
        FROM cand2),
    rer2 AS (
        SELECT m.unique_id, m.name, n.nb * 0.55 + m.centrality * 0.20 AS score2
        FROM norm2 n JOIN models m ON n.doc_id = m.unique_id)
    SELECT ROW_NUMBER() OVER (ORDER BY score2 DESC, unique_id) AS ord, name
    FROM rer2 ORDER BY score2 DESC, unique_id LIMIT 5
    """,
    survey="C7,E1",
    doc="Similar models from the real capsule build: re-search excluding "
    "the capsule's own neighborhood, top 5 names.",
)
def meta_similar_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ariadne_dbt_spark.operators.capsule import CapsuleBuilder

    idx = synthetic_index(spark, sf_dir)
    cap = CapsuleBuilder(idx).build("red widget")
    rows = [(i + 1, n) for i, n in enumerate(cap.similar_models)]
    return spark.createDataFrame(rows, "ord long, name string")


# --------------------------------------------------------------------------
# C8 + G7: discover — names-only orientation list: pivots (cap 5) +
# depth-4 DAG labels + FTS fill to the limit
# (reference: capsule.py:432-501, server.py:116-174).
# --------------------------------------------------------------------------
_DISC_LIMIT = 30


@query(
    "meta_discover",
    oracle=f"""
    WITH RECURSIVE {META_SQL},
    {search_cte("explore", limit=7)},
    pranked AS (
        SELECT unique_id, name,
               ROW_NUMBER() OVER (ORDER BY score_raw DESC, unique_id) AS rn
        FROM rer),
    pivots AS (SELECT unique_id, name, rn FROM pranked WHERE rn <= 5),
    walk_up(uid, d) AS (
        SELECT e.parent_id, 1 FROM medges e
        JOIN pivots p ON e.child_id = p.unique_id
        UNION ALL
        SELECT e.parent_id, w.d + 1 FROM walk_up w
        JOIN medges e ON e.child_id = w.uid WHERE w.d < 4),
    upn AS (
        SELECT uid AS unique_id, MIN(d) AS distance FROM walk_up
        WHERE uid LIKE 'model.%'
          AND uid NOT IN (SELECT unique_id FROM pivots)
        GROUP BY uid),
    walk_down(uid, d) AS (
        SELECT e.child_id, 1 FROM medges e
        JOIN pivots p ON e.parent_id = p.unique_id
        UNION ALL
        SELECT e.child_id, w.d + 1 FROM walk_down w
        JOIN medges e ON e.parent_id = w.uid WHERE w.d < 4),
    downn AS (
        SELECT uid AS unique_id, MIN(d) AS distance FROM walk_down
        WHERE uid LIKE 'model.%'
          AND uid NOT IN (SELECT unique_id FROM pivots)
        GROUP BY uid),
    all3 AS (
        SELECT 1 AS phase, rn AS ord, unique_id, name, 'pivot' AS relationship,
               0 AS distance
        FROM pivots
        UNION ALL
        SELECT 2, ROW_NUMBER() OVER (ORDER BY u.distance, u.unique_id),
               u.unique_id, m.name, 'upstream', u.distance
        FROM upn u JOIN models m ON u.unique_id = m.unique_id
        UNION ALL
        SELECT 3, ROW_NUMBER() OVER (ORDER BY d.distance, d.unique_id),
               d.unique_id, m.name, 'downstream', d.distance
        FROM downn d JOIN models m ON d.unique_id = m.unique_id),
    kept3 AS (
        SELECT * FROM (
            SELECT a.*, ROW_NUMBER() OVER (PARTITION BY unique_id
                                           ORDER BY phase, ord) AS occ
            FROM all3 a) WHERE occ = 1),
    head3 AS (
        SELECT * FROM (
            SELECT k.*, ROW_NUMBER() OVER (ORDER BY phase, ord) AS g
            FROM kept3 k) WHERE g <= {_DISC_LIMIT}),
    rem AS (SELECT {_DISC_LIMIT} - COUNT(*) AS r FROM head3),
    candf AS (
        SELECT doc_id, raw FROM (
            SELECT doc_id, raw, ROW_NUMBER() OVER (ORDER BY raw DESC, doc_id) AS rn
            FROM scored)
        WHERE rn <= 4 * (SELECT r FROM rem)),
    candf2 AS (SELECT doc_id, raw FROM candf
               WHERE doc_id NOT IN (SELECT unique_id FROM head3)),
    normf AS (
        SELECT doc_id,
               CASE WHEN (SELECT MAX(raw) FROM candf2) = (SELECT MIN(raw) FROM candf2)
                    THEN 1.0
                    ELSE (raw - (SELECT MIN(raw) FROM candf2))
                         / ((SELECT MAX(raw) FROM candf2) - (SELECT MIN(raw) FROM candf2))
               END AS nb
        FROM candf2),
    rerf AS (
        SELECT m.unique_id, m.name, n.nb * 0.55 + m.centrality * 0.20 AS scoref
        FROM normf n JOIN models m ON n.doc_id = m.unique_id),
    phase4 AS (
        SELECT 4 AS phase, ord, unique_id, name, 'search' AS relationship,
               -1 AS distance
        FROM (SELECT unique_id, name,
                     ROW_NUMBER() OVER (ORDER BY scoref DESC, unique_id) AS ord
              FROM rerf)
        WHERE ord <= (SELECT r FROM rem)),
    final AS (
        SELECT phase, ord, unique_id, name, relationship, distance FROM head3
        UNION ALL
        SELECT phase, ord, unique_id, name, relationship, distance FROM phase4)
    SELECT ROW_NUMBER() OVER (ORDER BY phase, ord) AS ord,
           unique_id, name, relationship, distance
    FROM final ORDER BY ord
    """,
    survey="C8,G7,E3",
    doc="Discover: 5 search pivots + depth-4 up/down DAG labels + search "
    "fill to limit 30, first-seen dedup, through the real "
    "CapsuleBuilder.discover.",
)
def meta_discover(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ariadne_dbt_spark.operators.capsule import CapsuleBuilder

    idx = synthetic_index(spark, sf_dir)
    out = CapsuleBuilder(idx).discover("red widget", limit=_DISC_LIMIT)
    rows = [
        (i + 1, r["unique_id"], r["name"], r["relationship"], r["distance"])
        for i, r in enumerate(out)
    ]
    return spark.createDataFrame(
        rows, "ord long, unique_id string, name string, relationship string, distance long"
    )
