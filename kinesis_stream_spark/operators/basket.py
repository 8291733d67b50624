"""Market-basket association rules (Agrawal & Srikant 1994, the
support/confidence/lift core without the Apriori candidate loop —
pair rules only, which is what co-purchase recommendation actually
ships). SURVEY.md §2.3 extension row; no counterpart in the reference
— kinesis-stream hands decoded records to user code, and basket
analytics happens downstream; this is that downstream, re-expressed
declaratively.

Distinct from the collocation miner (operators/text.py): collocations
score token pairs INSIDE documents by PMI-style lift; this scores
item pairs ACROSS transactions by support/confidence — the
recommendation-rule shape ("baskets with X also contain Y"), emitted
as DIRECTIONAL rules with both integer-ppm confidence and lift.

Cross-engine exactness: supports are exact integers; confidence_ppm =
⌊10^6·sup(ab)/sup(a)⌋ and lift_ppm = ⌊10^6·N·sup(ab)/(sup(a)·sup(b))⌋
in DECIMAL(38,0)/HUGEINT arithmetic (BIGINT·10^6·N overflows at real
transaction counts; the skew-deciles discipline).

Scale shape: baskets collapse to DISTINCT (basket, item) map-side
FIRST (the only corpus-sized pass); the pair frame is the id-ordered
self-join on the basket key — cost Σ|basket|²/2, bounded by basket
size, not corpus size; item supports are a combinable aggregate
joined back on the (small) item vocabulary; the min-support HAVING
prunes the rule frame before the join-back. At 100 TB the guardrails
are the usual two: a basket-size cap upstream (a pathological basket
quadratically dominates — same knob as the fuzzy join's block cap)
and the support threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

D38 = "decimal(38,0)"


def association_rules(baskets: DataFrame, *, min_support: int = 2) -> DataFrame:
    """Directional pair association rules over (basket, item) rows.

    Output per rule: (antecedent, consequent, n_baskets, sup_a, sup_b,
    sup_ab, confidence_ppm, lift_ppm), for every ordered pair whose
    joint support ≥ ``min_support``. Duplicate (basket, item) rows
    collapse first (set semantics); NULL baskets/items are excluded.
    """
    if min_support < 1:
        raise ValueError(f"min_support must be >= 1, got {min_support}")
    bi = (
        baskets.where(F.col("basket").isNotNull() & F.col("item").isNotNull())
        .select(F.col("basket").alias("b"), F.col("item").alias("i"))
        .distinct()
    )
    n = bi.select(F.count_distinct("b").cast("long").alias("n_baskets"))
    sup = bi.groupBy(F.col("i")).agg(F.count(F.lit(1)).cast("long").alias("sup"))
    l, r = bi.alias("l"), bi.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.b") == F.col("r.b")) & (F.col("l.i") < F.col("r.i")),
        )
        .groupBy(F.col("l.i").alias("a"), F.col("r.i").alias("c"))
        .agg(F.count(F.lit(1)).cast("long").alias("sup_ab"))
        .where(F.col("sup_ab") >= min_support)
    )
    # both rule directions from the one ordered-pair frame
    rules = pairs.select("a", "c", "sup_ab").unionAll(
        pairs.select(
            F.col("c").alias("a"), F.col("a").alias("c"), "sup_ab"
        )
    )
    sa = sup.select(F.col("i").alias("a"), F.col("sup").alias("sup_a"))
    sc = sup.select(F.col("i").alias("c"), F.col("sup").alias("sup_b"))
    out = (
        rules.join(sa, "a")
        .join(sc, "c")
        .crossJoin(F.broadcast(n))
    )
    conf = F.expr(
        f"cast(cast(sup_ab as {D38}) * 1000000 div sup_a as long)"
    )
    lift = F.expr(
        f"cast(cast(sup_ab as {D38}) * 1000000 * n_baskets"
        f" div (cast(sup_a as {D38}) * sup_b) as long)"
    )
    return out.select(
        F.col("a").alias("antecedent"),
        F.col("c").alias("consequent"),
        "n_baskets",
        "sup_a",
        "sup_b",
        "sup_ab",
        conf.alias("confidence_ppm"),
        lift.alias("lift_ppm"),
    )


def sql_association_rules(
    baskets_cte: str,
    *,
    min_support: int = 2,
) -> str:
    """DuckDB oracle twin of :func:`association_rules`.
    ``baskets_cte`` must yield (basket, item) columns."""
    return f"""
    WITH raw AS ({baskets_cte}),
    bi AS (SELECT DISTINCT basket AS b, item AS i FROM raw
           WHERE basket IS NOT NULL AND item IS NOT NULL),
    n AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n_baskets FROM bi),
    sup AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS sup FROM bi GROUP BY i),
    pairs AS (
      SELECT l.i AS a, r.i AS c, CAST(COUNT(*) AS BIGINT) AS sup_ab
      FROM bi l JOIN bi r ON l.b = r.b AND l.i < r.i
      GROUP BY 1, 2
      HAVING COUNT(*) >= {min_support}),
    rules AS (
      SELECT a, c, sup_ab FROM pairs
      UNION ALL
      SELECT c AS a, a AS c, sup_ab FROM pairs)
    SELECT ru.a AS antecedent, ru.c AS consequent, n.n_baskets,
           sa.sup AS sup_a, sc.sup AS sup_b, ru.sup_ab,
           CAST(CAST(ru.sup_ab AS HUGEINT) * 1000000 // sa.sup AS BIGINT)
             AS confidence_ppm,
           CAST(CAST(ru.sup_ab AS HUGEINT) * 1000000 * n.n_baskets
                // (CAST(sa.sup AS HUGEINT) * sc.sup) AS BIGINT) AS lift_ppm
    FROM rules ru
    JOIN sup sa ON sa.i = ru.a
    JOIN sup sc ON sc.i = ru.c
    CROSS JOIN n
    """


def item_jaccard(
    baskets: DataFrame,
    *,
    min_common: int = 2,
    top_k: int = 30,
) -> DataFrame:
    """Item-item Jaccard similarity over basket co-membership — the
    collaborative-filtering "customers who bought X also bought Y"
    similarity (Sarwar et al. WWW 2001 item-based CF, with Jaccard as
    the set-overlap kernel): with B(i) the set of baskets containing
    item i,

        jaccard(x, y) = |B(x) ∩ B(y)| / (|B(x)| + |B(y)| − |B(x) ∩ B(y)|)

    Complements :func:`association_rules`: confidence/lift are
    DIRECTIONAL co-occurrence rates; Jaccard is the symmetric
    set-similarity a neighborhood-based recommender ranks by. Output:
    the global top ``top_k`` pairs (item_a < item_b) by (jaccard desc,
    item_a, item_b), each with common/deg/jaccard columns — the one
    IEEE op per row is the Jaccard divide of two exact integers
    (identical on both engines), so even the rank order is bit-stable.

    Scale shape: same guardrails as the rules miner — DISTINCT
    (basket, item) collapse first, pair counts from the id-ordered
    self-join on the basket key (Σ|basket|²/2 work, bounded by basket
    size; cap pathological baskets upstream), per-item degrees as a
    combinable aggregate joined back on the pair frame (item-keyed
    equi joins), ``min_common`` pruning BEFORE the degree joins, and
    a top-k that is per-partition pre-list + driver merge
    (TakeOrderedAndProject), never a full sort."""
    if min_common < 1:
        raise ValueError(f"min_common must be >= 1, got {min_common}")
    bi = (
        baskets.where(F.col("basket").isNotNull() & F.col("item").isNotNull())
        .select(F.col("basket").alias("b"), F.col("item").alias("i"))
        .distinct()
    )
    deg = bi.groupBy("i").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    l, r = bi.alias("l"), bi.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.b") == F.col("r.b")) & (F.col("l.i") < F.col("r.i")),
        )
        .groupBy(F.col("l.i").alias("ia"), F.col("r.i").alias("ib"))
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
        .where(F.col("common") >= min_common)
    )
    da = deg.select(F.col("i").alias("ia"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("i").alias("ib"), F.col("deg").alias("deg_b"))
    scored = (
        pairs.join(da, "ia")
        .join(db, "ib")
        .select(
            F.col("ia").alias("item_a"),
            F.col("ib").alias("item_b"),
            "common",
            "deg_a",
            "deg_b",
            (
                F.col("common").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard"), F.asc("item_a"), F.asc("item_b")
    ).limit(top_k)


def sql_item_jaccard(
    *,
    baskets_cte: str,
    min_common: int = 2,
    top_k: int = 30,
) -> str:
    """DuckDB oracle twin of :func:`item_jaccard`. ``baskets_cte``
    must yield (b, i) rows."""
    return f"""
    WITH rawbi AS ({baskets_cte}),
    bi AS (SELECT DISTINCT b, i FROM rawbi
           WHERE b IS NOT NULL AND i IS NOT NULL),
    deg AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS deg FROM bi GROUP BY 1),
    pairs AS (
      SELECT l.i AS ia, r.i AS ib, CAST(COUNT(*) AS BIGINT) AS common
      FROM bi l JOIN bi r ON l.b = r.b AND l.i < r.i
      GROUP BY 1, 2
      HAVING COUNT(*) >= {min_common})
    SELECT p.ia AS item_a, p.ib AS item_b, p.common,
           da.deg AS deg_a, db.deg AS deg_b,
           CAST(p.common AS DOUBLE)
             / CAST(da.deg + db.deg - p.common AS DOUBLE) AS jaccard
    FROM pairs p
    JOIN deg da ON da.i = p.ia
    JOIN deg db ON db.i = p.ib
    ORDER BY jaccard DESC, item_a ASC, item_b ASC
    LIMIT {top_k}
    """


def item_cosine(baskets: DataFrame, *, min_common: int = 2) -> DataFrame:
    """Item-item cosine similarity over basket co-membership — the
    OTHER classic item-based-CF kernel (Sarwar et al. WWW 2001 §3.1):
    on binary basket vectors,

        cosine(x, y) = |B(x) ∩ B(y)| / √(|B(x)|·|B(y)|)

    Jaccard (:func:`item_jaccard`) penalizes popularity via the union;
    cosine via the geometric mean — rankings disagree exactly on
    popular-vs-niche pairs, which is why recommenders ship both and
    compare. Output: global top 30 pairs (item_a < item_b) by
    (cosine desc, item_a, item_b) with common/deg/cosine columns.

    Cross-engine exactness: counts exact; deg_a·deg_b in
    DECIMAL(38,0)/HUGEINT, VARCHAR-routed to double (DuckDB's direct
    HUGEINT→DOUBLE cast is not correctly rounded — the burstiness
    rule), one sqrt (correctly rounded IEEE), one divide.

    Scale shape: identical to :func:`item_jaccard` — distinct
    collapse, id-ordered basket self-join, ``min_common`` pruning
    before the degree joins, TakeOrderedAndProject top-k."""
    if min_common < 1:
        raise ValueError(f"min_common must be >= 1, got {min_common}")
    bi = (
        baskets.where(F.col("basket").isNotNull() & F.col("item").isNotNull())
        .select(F.col("basket").alias("b"), F.col("item").alias("i"))
        .distinct()
    )
    deg = bi.groupBy("i").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    l, r = bi.alias("l"), bi.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.b") == F.col("r.b")) & (F.col("l.i") < F.col("r.i")),
        )
        .groupBy(F.col("l.i").alias("ia"), F.col("r.i").alias("ib"))
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
        .where(F.col("common") >= min_common)
    )
    da = deg.select(F.col("i").alias("ia"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("i").alias("ib"), F.col("deg").alias("deg_b"))
    scored = (
        pairs.join(da, "ia")
        .join(db, "ib")
        .select(
            F.col("ia").alias("item_a"),
            F.col("ib").alias("item_b"),
            "common",
            "deg_a",
            "deg_b",
            (
                F.col("common").cast("double")
                / F.sqrt(
                    F.expr(
                        f"cast(cast(cast(deg_a as {D38}) * deg_b"
                        " as string) as double)"
                    )
                )
            ).alias("cosine"),
        )
    )
    return scored.orderBy(
        F.desc("cosine"), F.asc("item_a"), F.asc("item_b")
    ).limit(30)


def sql_item_cosine(
    *,
    baskets_cte: str,
    min_common: int = 2,
) -> str:
    """DuckDB oracle twin of :func:`item_cosine`. ``baskets_cte``
    must yield (b, i) rows."""
    return f"""
    WITH rawbi AS ({baskets_cte}),
    bi AS (SELECT DISTINCT b, i FROM rawbi
           WHERE b IS NOT NULL AND i IS NOT NULL),
    deg AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS deg FROM bi GROUP BY 1),
    pairs AS (
      SELECT l.i AS ia, r.i AS ib, CAST(COUNT(*) AS BIGINT) AS common
      FROM bi l JOIN bi r ON l.b = r.b AND l.i < r.i
      GROUP BY 1, 2
      HAVING COUNT(*) >= {min_common}),
    scored AS (
      SELECT p.ia AS item_a, p.ib AS item_b, p.common,
             a.deg AS deg_a, b.deg AS deg_b,
             CAST(p.common AS DOUBLE)
               / SQRT(CAST(CAST(CAST(a.deg AS HUGEINT) * b.deg AS VARCHAR)
                           AS DOUBLE)) AS cosine
      FROM pairs p
      JOIN deg a ON p.ia = a.i
      JOIN deg b ON p.ib = b.i)
    SELECT * FROM scored
    ORDER BY cosine DESC, item_a, item_b
    LIMIT 30
    """
