"""DuckDB oracle twins of operators/retrieval.py.

Replays the SAME algorithm, not a reference answer: identical
whitespace tokenization (functions/hashing.py ``WS_RUN``), the same
integer idf/weight rationals with the same left-associative double op
order, the same floor-to-2^20 per-term fixed point, exact integer sums
(DuckDB SUM(BIGINT) → HUGEINT, cast back), and the same (score desc,
doc_id asc) tie rule. Parity validates the computation end to end.
"""

from __future__ import annotations

from kinesis_stream_spark.functions.hashing import sql_tokens
from kinesis_stream_spark.operators.retrieval import BM25_SCALE, COVERAGE_PCTS


def sql_bm25_topk(query_values: tuple[tuple[int, str], ...], *, k: int = 10) -> str:
    """Oracle for :func:`~kinesis_stream_spark.operators.retrieval.bm25_topk`
    over literal (query_id, qtext) rows."""
    toks = sql_tokens("text")
    # single-quote doubling: query text is data, not SQL — an apostrophe
    # must not break (or rewrite) the oracle
    values = ", ".join(
        "({}, '{}')".format(qid, qtext.replace("'", "''"))
        for qid, qtext in query_values
    )
    # op order mirrors the Spark expression exactly: integer idf ratio
    # (one divide), left-assoc double products, (wnum / wden)
    # parenthesized, then ×2^20 and floor
    idf = (
        "CAST(2*(x.n_docs - d.df) + 1 AS DOUBLE)"
        " / CAST(2*d.df + 1 AS DOUBLE)"
    )
    wnum = "22.0 * CAST(x.n_tokens AS DOUBLE) * CAST(t.tf AS DOUBLE)"
    wden = (
        "10.0 * CAST(x.n_tokens AS DOUBLE) * CAST(t.tf AS DOUBLE)"
        " + 3.0 * CAST(x.n_tokens AS DOUBLE)"
        " + 9.0 * CAST(t.dlen AS DOUBLE) * CAST(x.n_docs AS DOUBLE)"
    )
    return f"""
    WITH posted AS (
      SELECT doc_id AS doc_id, LEN(toks) AS dlen, UNNEST(toks) AS term
      FROM (SELECT doc_id, {toks} AS toks FROM documents)
    ),
    qraw AS (SELECT * FROM (VALUES {values}) AS q(query_id, qtext)),
    qterms AS (
      SELECT CAST(query_id AS BIGINT) AS query_id,
             UNNEST(LIST_DISTINCT({sql_tokens('qtext')})) AS term
      FROM qraw
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(LEN({toks})) AS BIGINT) AS n_tokens
      FROM documents
    ),
    tf AS (
      SELECT term, doc_id, dlen, CAST(COUNT(*) AS BIGINT) AS tf
      FROM posted
      WHERE term IN (SELECT DISTINCT term FROM qterms)
      GROUP BY 1, 2, 3
    ),
    dfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    contrib AS (
      SELECT q.query_id, t.doc_id,
             CAST(FLOOR(({idf}) * (({wnum}) / ({wden}))
                        * {float(BM25_SCALE)!r}) AS BIGINT) AS fx
      FROM tf t
      JOIN dfc d USING (term)
      JOIN qterms q USING (term)
      CROSS JOIN tot x
    ),
    scoresum AS (
      -- SUM(BIGINT) -> HUGEINT: exact at any query length, mirroring
      -- Spark's DECIMAL(38,0) accumulation; sfx is ordered on and
      -- scaled back to DOUBLE, never returned raw
      SELECT query_id, doc_id, SUM(fx) AS sfx
      FROM contrib GROUP BY 1, 2
    )
    SELECT query_id, doc_id,
           CAST(sfx AS DOUBLE) / {BM25_SCALE} AS score, rank
    FROM (
      SELECT query_id, doc_id, sfx,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sfx DESC, doc_id) AS rank
      FROM scoresum)
    WHERE rank <= {k}
    ORDER BY query_id, rank
    """


def sql_rsj_topk(query_values: tuple[tuple[int, str], ...], *, k: int = 10) -> str:
    """Oracle for :func:`~kinesis_stream_spark.operators.retrieval.rsj_topk`
    over literal (query_id, qtext) rows: idf-only binary-independence
    scoring, same rational idf / floor-fx / HUGEINT-sum discipline as
    the BM25 twin."""
    toks = sql_tokens("text")
    values = ", ".join(
        "({}, '{}')".format(qid, qtext.replace("'", "''"))
        for qid, qtext in query_values
    )
    idf = (
        "CAST(2*(x.n_docs - d.df) + 1 AS DOUBLE)"
        " / CAST(2*d.df + 1 AS DOUBLE)"
    )
    return f"""
    WITH posted AS (
      SELECT doc_id AS doc_id, UNNEST(LIST_DISTINCT(toks)) AS term
      FROM (SELECT doc_id, {toks} AS toks FROM documents)
    ),
    qraw AS (SELECT * FROM (VALUES {values}) AS q(query_id, qtext)),
    qterms AS (
      SELECT CAST(query_id AS BIGINT) AS query_id,
             UNNEST(LIST_DISTINCT({sql_tokens('qtext')})) AS term
      FROM qraw
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    matched AS (
      SELECT term, doc_id FROM posted
      WHERE term IN (SELECT DISTINCT term FROM qterms)
    ),
    dfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM matched GROUP BY 1),
    contrib AS (
      SELECT q.query_id, m.doc_id,
             CAST(FLOOR(({idf}) * {float(BM25_SCALE)!r}) AS BIGINT) AS fx
      FROM matched m
      JOIN dfc d USING (term)
      JOIN qterms q USING (term)
      CROSS JOIN tot x
    ),
    scoresum AS (
      SELECT query_id, doc_id, SUM(fx) AS sfx
      FROM contrib GROUP BY 1, 2
    )
    SELECT query_id, doc_id,
           CAST(sfx AS DOUBLE) / {BM25_SCALE} AS score, rank
    FROM (
      SELECT query_id, doc_id, sfx,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sfx DESC, doc_id) AS rank
      FROM scoresum)
    WHERE rank <= {k}
    ORDER BY query_id, rank
    """


def sql_vocab_coverage() -> str:
    """Oracle for
    :func:`~kinesis_stream_spark.operators.retrieval.vocab_coverage`.
    The oracle's running sum is a plain global window (DuckDB needs no
    scale-out); values match the distributed prefix sum because the
    order key (n desc, term asc) is unique per row."""
    toks = sql_tokens("text")
    values = ", ".join(f"({p})" for p in COVERAGE_PCTS)
    return f"""
    WITH counts AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT UNNEST({toks}) AS term FROM documents)
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab_size
      FROM counts
    ),
    cumt AS (
      SELECT CAST(SUM(n) OVER (ORDER BY n DESC, term
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM counts
    ),
    per AS (
      SELECT c.cum, p.pct, t.total_tokens, t.vocab_size
      FROM cumt c
      CROSS JOIN (VALUES {values}) AS p(pct)
      CROSS JOIN tot t
    )
    SELECT CAST(pct AS INT) AS pct,
           CAST(SUM(CASE WHEN cum*100 < pct*total_tokens THEN 1 ELSE 0 END)
                + 1 AS BIGINT) AS n_terms,
           MIN(CASE WHEN cum*100 >= pct*total_tokens THEN cum END)
             AS covered_tokens,
           MAX(total_tokens) AS total_tokens,
           MAX(vocab_size) AS vocab_size,
           CAST(MIN(CASE WHEN cum*100 >= pct*total_tokens THEN cum END)
                AS DOUBLE)
             / CAST(MAX(total_tokens) AS DOUBLE) AS coverage
    FROM per
    GROUP BY pct
    ORDER BY pct
    """


def sql_prf_expansion(
    query_values: tuple[tuple[int, str], ...],
    *,
    m: int = 5,
    t: int = 5,
) -> str:
    """Oracle for
    :func:`~kinesis_stream_spark.operators.retrieval.prf_expansion`:
    the full BM25 oracle rides as a derived-table shortlist, then the
    keyword-extraction idf chain scores the pooled vocabulary."""
    toks = sql_tokens("text")
    bm25 = sql_bm25_topk(query_values, k=m)
    values = ", ".join(
        "({}, '{}')".format(qid, qtext.replace("'", "''"))
        for qid, qtext in query_values
    )
    return f"""
    WITH short AS (
      SELECT query_id, doc_id FROM ({bm25})),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id AS doc_id, UNNEST({toks}) AS term
            FROM documents)
      GROUP BY 1, 2),
    dfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
          WHERE text IS NOT NULL),
    idf AS (
      SELECT term,
             CAST(FLOOR(CAST(2*(n_docs - df) + 1 AS DOUBLE)
                        / CAST(2*df + 1 AS DOUBLE)
                        * {float(1 << 20)!r}) AS BIGINT) AS idf_fx
      FROM dfc CROSS JOIN n),
    qraw AS (SELECT * FROM (VALUES {values}) AS q(query_id, qtext)),
    qterms AS (
      SELECT CAST(query_id AS BIGINT) AS query_id,
             UNNEST(LIST_DISTINCT({sql_tokens('qtext')})) AS term
      FROM qraw),
    pooled AS (
      SELECT s.query_id, f.term,
             CAST(COUNT(*) AS BIGINT) AS in_docs,
             CAST(SUM(f.tf) AS BIGINT) AS pooled_tf
      FROM tf f JOIN short s ON f.doc_id = s.doc_id
      WHERE NOT EXISTS (
        SELECT 1 FROM qterms q
        WHERE q.query_id = s.query_id AND q.term = f.term)
      GROUP BY 1, 2),
    scored AS (
      SELECT p.query_id, p.term, p.in_docs, p.pooled_tf,
             p.pooled_tf * i.idf_fx AS score_fx
      FROM pooled p JOIN idf i USING (term)),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY score_fx DESC, term) AS rank
      FROM scored)
    SELECT query_id, CAST(rank AS INT) AS rank, term, in_docs,
           pooled_tf, score_fx
    FROM ranked WHERE rank <= {t}
    """
