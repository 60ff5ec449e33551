"""Checks made apart from the engine: a DuckDB BM25 oracle, top-k
comparison with tie tolerance, and plain-Python TREC evaluation.

The oracle builds its own postings from the raw corpus with its own SQL
tokenization (lowercase, split on [^a-z0-9]+) and scores with Lucene's
BM25 idf ln(1 + (N - df + 0.5) / (df + 0.5)).
"""

from __future__ import annotations

import math

RTOL = 1e-9

_SQL_TOKENS = (
    "list_filter(regexp_split_to_array(lower({col}), '[^a-z0-9]+'),"
    " x -> x <> '')"
)


def bm25_topk(
    doc_ids: list[int],
    contents: list[str],
    topics: list[tuple[str, str]],
    k: int,
    k1: float = 0.7,
    b: float = 0.3,
) -> dict[str, list[tuple[int, float]]]:
    """qid -> [(doc_id, score)] ordered by score desc, doc_id asc: the top
    ``k`` plus every further document whose score ties the k-th within
    2*RTOL, so a tie group cut at rank k can be compared as a set."""
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    try:
        docs = pa.table({"doc_id": doc_ids, "content": contents})
        qs = pa.table({"qid": [q for q, _ in topics],
                       "text": [t for _, t in topics]})
        con.register("docs_in", docs)
        con.register("topics_in", qs)
        con.execute(f"""
            CREATE TABLE toks AS
            SELECT doc_id, unnest({_SQL_TOKENS.format(col='content')}) AS term
            FROM docs_in""")
        con.execute("""
            CREATE TABLE dl AS
            SELECT d.doc_id, count(t.term) AS dl
            FROM docs_in d LEFT JOIN toks t USING (doc_id)
            GROUP BY d.doc_id""")
        con.execute("""
            CREATE TABLE post AS
            SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY term, doc_id""")
        con.execute(f"""
            CREATE TABLE qterms AS
            SELECT qid, term, count(*)::DOUBLE AS weight FROM (
              SELECT qid, unnest({_SQL_TOKENS.format(col='text')}) AS term
              FROM topics_in) GROUP BY qid, term""")
        rows = con.execute(f"""
            WITH coll AS (
              SELECT count(*)::DOUBLE AS n, sum(dl)::DOUBLE / count(*) AS avgdl
              FROM dl),
            df AS (SELECT term, count(*)::DOUBLE AS df FROM post GROUP BY term),
            s AS (
              SELECT q.qid, p.doc_id,
                sum(q.weight * ln(1 + (coll.n - df.df + 0.5) / (df.df + 0.5))
                    * p.tf / (p.tf + {k1} * (1 - {b} + {b} * dl.dl / coll.avgdl)))
                  AS score
              FROM qterms q
              JOIN post p USING (term)
              JOIN df USING (term)
              JOIN dl USING (doc_id), coll
              GROUP BY q.qid, p.doc_id),
            r AS (
              SELECT *, row_number() OVER (
                PARTITION BY qid ORDER BY score DESC, doc_id) AS rk
              FROM s),
            kth AS (SELECT qid, min(score) AS ks FROM r WHERE rk <= {k}
                    GROUP BY qid)
            SELECT r.qid, r.doc_id, r.score FROM r JOIN kth USING (qid)
            WHERE r.rk <= {k} OR r.score >= kth.ks * (1 - 2 * {RTOL})
            ORDER BY r.qid, r.rk""").fetchall()
    finally:
        con.close()
    out: dict[str, list[tuple[int, float]]] = {q: [] for q, _ in topics}
    for qid, doc, score in rows:
        out[qid].append((int(doc), float(score)))
    return out


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= RTOL * max(abs(a), abs(b))


def compare_topk(
    got: dict[str, list[tuple[int, int, float]]],
    want: dict[str, list[tuple[int, float]]],
    k: int,
) -> list[str]:
    """Compare an engine run ``qid -> [(rank, doc_id, score)]`` with the
    oracle. Ranks must run 1..min(k, matches); scores must agree to RTOL
    rank by rank; documents whose oracle scores tie within RTOL are
    compared as sets. Returns the mismatches (empty when equal)."""
    errs = []
    for qid, ref in want.items():
        rows = sorted(got.get(qid, []))
        n = min(k, len(ref))
        if [r for r, _, _ in rows] != list(range(1, n + 1)):
            errs.append(f"{qid}: ranks {[r for r, _, _ in rows][:5]}... "
                        f"({len(rows)} rows), want 1..{n}")
            continue
        bad = [i for i in range(n) if not _close(rows[i][2], ref[i][1])]
        if bad:
            i = bad[0]
            errs.append(f"{qid}: rank {i + 1} score {rows[i][2]!r} "
                        f"!= oracle {ref[i][1]!r}")
            continue
        i = 0
        while i < n:
            j = i
            while j + 1 < len(ref) and _close(ref[j + 1][1], ref[i][1]):
                j += 1
            tie = {d for d, _ in ref[i:j + 1]}
            mine = {d for _, d, _ in rows[i:min(j + 1, n)]}
            if not mine <= tie:
                errs.append(f"{qid}: ranks {i + 1}-{min(j + 1, n)} docs "
                            f"{sorted(mine - tie)[:5]} not in oracle tie group")
                break
            i = j + 1
    extra = set(got) - set(want)
    if extra:
        errs.append(f"unexpected qids {sorted(extra)[:5]}")
    return errs


def eval_query(
    ranked_docids: list[str], judged: dict[str, float], p_at: int = 5,
    ndcg_at: int = 10, rel_threshold: float = 1.0,
) -> dict[str, float]:
    """AP, P@p_at, recall and nDCG@ndcg_at of one ranked list. nDCG's ideal
    ranking is the retrieved list re-sorted by grade (the reference
    evaluator's "ret" mode, the engine's default)."""
    rels = [judged.get(d, 0.0) for d in ranked_docids]
    num_rel = sum(1 for r in judged.values() if r >= rel_threshold)
    hits, ap_num, p_num = 0, 0.0, 0
    for rank, r in enumerate(rels, start=1):
        if r >= rel_threshold:
            hits += 1
            ap_num += hits / rank
            if rank <= p_at:
                p_num += 1
    dcg = sum(r / math.log2(i + 1)
              for i, r in enumerate(rels[:ndcg_at], start=1))
    ideal = sorted(rels, reverse=True)[:ndcg_at]
    idcg = sum(r / math.log2(i + 1) for i, r in enumerate(ideal, start=1))
    return {
        "ap": ap_num / num_rel if num_rel else 0.0,
        "p_at_5": p_num / p_at,
        "recall": hits / num_rel if num_rel else 0.0,
        "ndcg": dcg / idcg if idcg > 0 else 0.0,
    }
