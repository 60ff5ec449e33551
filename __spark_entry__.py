"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full-pass BM25 top-k over the sf0.001
``documents`` table (index build + multi-query scoring in one job).

``queries()`` / ``oracle_sql()`` — one pair per SQL-expressible operator
from SURVEY.md §2; the oracle-gated paths use the engine's ``simple``
analyzer mode (lowercase, split on non-[a-z0-9]) so the DuckDB SQL
reproduces tokenization exactly. The full Lucene-style analyzer chain
(possessive/stop/Porter) is covered by pytest brute-force oracles instead
(tests/), since Porter stemming is not expressible in ANSI SQL.

All floats are rounded to 4 decimals on BOTH sides before comparison;
all integer outputs are cast to 64-bit on both sides.
"""

from __future__ import annotations

import math
import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from luc4ir_spark.functions.analysis import AnalyzerConfig, simple_tokens
from luc4ir_spark.operators import annsearch as ann
from luc4ir_spark.operators import bpetrain as bp
from luc4ir_spark.operators import sptrain as sp
from luc4ir_spark.operators import dedup as dd
from luc4ir_spark.operators import evaluation as ev
from luc4ir_spark.operators import feedback as fb
from luc4ir_spark.operators import graph as gr
from luc4ir_spark.operators import indexer as ix
from luc4ir_spark.operators import qpp as qp
from luc4ir_spark.operators import retrieval as rt
from luc4ir_spark.operators import textstats as ts
from luc4ir_spark.operators import utilsops as ut
from luc4ir_spark.operators import wand as wd

SIMPLE = AnalyzerConfig(mode="simple")
K1, B = rt.BM25_K1_DEFAULT, rt.BM25_B_DEFAULT

# fixed query set over the synthetic corpus vocabulary
QUERY_SET: list[tuple[str, str]] = [
    ("q1", "spark join window"),
    ("q2", "stream hash"),
    ("q3", "merge filter table"),
    ("q4", "zzznotaterm spark"),  # unknown-term path: df=0 terms drop out
]
TOPK = 10

# minimum_should_match gate: same QUERY_SET, docs must match >= 2 terms
_MSM = 2

# PrefixQuery gate: one trailing-wildcard prefix per query
_PREFIX_SET: list[tuple[str, str]] = [
    ("p1", "sp"),
    ("p2", "jo"),
    ("p3", "wind"),
]

# BooleanQuery parser gate: QueryParser +/- syntax, default-OR.
# b3 exercises clause multiplicity (merge twice => weight 2), b4 the
# out-of-vocabulary MUST clause (empty postings => query returns nothing)
_BOOL_QUERIES: list[tuple[str, str]] = [
    ("b1", "spark +join -dup"),
    ("b2", "+stream hash window"),
    ("b3", "merge merge -slow"),
    ("b4", "+zzznotaterm spark"),
]

# sequence-packing gate: shard-local concatenate-and-chunk layout
_PACK_SEQ_LEN = 128
_PACK_SHARDS = 8

# FILTER-occur gate: metadata-restricted search, scores unaffected
_FILTER_SOURCES = ("src1", "src7", "src13")

# BM25F gate: title = first _TITLE_LEN simple tokens, body = the rest
_TITLE_LEN = 8
_BM25F_W = {"title": 2.0, "body": 1.0}
_BM25F_B = {"title": 0.75, "body": 0.3}

# autocomplete gate: popularity-ranked prefix completions
_COMPLETE_PREFIXES: list[tuple[str, str]] = [
    ("c1", "s"),
    ("c2", "b"),
    ("c3", "w"),
]
_COMPLETE_K = 5

# fuzzy-complete gate (FuzzySuggester): typed text with typos; exact
# hit, one substitution ("scen"->scan), and a longer-typed typo
_FUZZY_TYPED: list[tuple[str, str]] = [
    ("f1", "spark"),
    ("f2", "scen"),
    ("f3", "whndow"),
    ("f4", "sor"),   # fans out: sort@0 plus slow/scan/spark/... @1 -> k cut
]
_FUZZY_EDITS, _FUZZY_K = 1, 5

# infix-suggest gate (AnalyzingInfixSuggester): match anywhere in the
# term; "a" hits many, "ar" mid-word (sp_ar_k/p_ar_t), "zq" none
_INFIX_NEEDLES: list[tuple[str, str]] = [
    ("i1", "a"),
    ("i2", "ar"),
    ("i3", "ow"),
    ("i4", "zq"),
]
_INFIX_K = 5

# explain gate: per-term score breakdown for these docs
_EXPLAIN_DOCS = (3, 7, 11)

# kNN-classifier gate (Lucene KNearestNeighborClassifier): every
# 17th doc is a test query; 5 MLT terms, 5 voting neighbors
_KNN_EVERY = 17
_KNN_TERMS = 5
_KNN_K = 5

# BPE trainer gate: merges learned from the corpus word counts
_BPE_MERGES = 8
# sp_encode_viterbi gate: fixed dyadic-prob inventory (model-as-data,
# like classifier_score's weights) — chars cost 2^-4, multi-char
# pieces cheaper so segmentation is non-trivial on the sf vocab
# (spark -> sp+ark, customer -> c+ust+om+er, ...). Dyadic probs +
# the SAME python-repr'd log literals on both engines make every DP
# score bit-identical; ties prefer the longer final piece on both
# sides (struct max ties to the later member = larger l).
_SP_MAXLEN = 3
_SP_JMAX = 12
_SP_INVENTORY = {
    **{c: 2.0 ** -4 for c in "abcdefghijklmnopqrstuvwxyz0123456789"},
    "the": 2.0 ** -6, "er": 2.0 ** -5, "ta": 2.0 ** -5,
    "ust": 2.0 ** -6, "om": 2.0 ** -5, "lum": 2.0 ** -6,
    "st": 2.0 ** -5, "ch": 2.0 ** -5, "ba": 2.0 ** -5,
    "sp": 2.0 ** -5, "ark": 2.0 ** -6, "que": 2.0 ** -6,
    "ry": 2.0 ** -5, "ow": 2.0 ** -5, "ind": 2.0 ** -6,
}

# cc_redaction gate: one card-shaped literal per doc_id % 6 — three
# Luhn-valid forms (plain / spaced / dashed), a checksum-invalid run,
# a 13-digit timestamp-shaped run (candidate but invalid), and none
_CC_SAMPLES = [
    "4539578763621486",
    "4111 1111 1111 1111",
    "5500-0000-0000-0004",
    "1234567890123456",
    "1700000000000",
    "",
]

# upsert gate: these docs get new text; upserted index == fresh build
_UPSERT_DOCS = (3, 7, 11)
_UPSERT_SUFFIX = " updated spark"

# pooling / rank-correlation gates: bm25 vs lmdir runs
_POOL_DEPTH = 5

# interpolated bigram LM gate
_BIGRAM_LAM = 0.8

# token-budget sampler gate: per-source budget (~half of each source)
_TOKEN_BUDGET = 800

# DisjunctionMaxQuery gate: max + tie * (sum of the other clauses)
_DISMAX_TIE = 0.3

# spatial radius gate: integer tick grid side, cell/radius, y salt,
# three query points (interior / mid / corner)
_SPATIAL_GRID = 400
_SPATIAL_RADIUS = 40
_SPATIAL_SALT = 7919
_SPATIAL_QUERIES = [("q1", 50, 50), ("q2", 200, 333), ("q3", 399, 0)]

# WildcardQuery gate: * = any sequence, ? = one char
_WILDCARD_SET: list[tuple[str, str]] = [
    ("w1", "s*"),
    ("w2", "?ash"),
    ("w3", "*or*"),
]

# TermRangeQuery gate: constant-score docs with >= 1 term in [lo, hi]
_RANGE_LO, _RANGE_HI = "filter", "key"

# extended-metrics gate: RBP persistence (bpref/ERR/judged ride along)
_RBP_P = 0.8

# span-masking gate: T5-style deterministic span-corruption layout
_MASK_SPAN_LEN, _MASK_STRIDE, _MASK_DENOM = 4, 7, 3

# SpanFirstQuery gate: term within the first N positions
_SPAN_FIRST_TERM, _SPAN_FIRST_END = "spark", 10

# MultiPhraseQuery gate: per-position alternatives
_MULTI_PHRASE: list[list[str]] = [["slow", "fast"], ["hash"], ["batch", "merge"]]

# SynonymQuery gate: query-side synonym groups (term -> synonym)
_SYN_TABLE: list[tuple[str, str]] = [
    ("spark", "stream"),
    ("join", "merge"),
]

# field-collapse gate: collapse the depth-_COLLAPSE_DEPTH run by source
_COLLAPSE_DEPTH = 50

# ---------------------------------------------------------------- SQL CTEs

# tokenization must match luc4ir_spark.functions.analysis.simple_tokens
_TOKS = (
    "toks AS (SELECT doc_id, unnest(list_filter("
    "regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''))"
    " AS term FROM documents)"
)
_TF = (
    "tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf"
    " FROM toks GROUP BY 1, 2)"
)
_DL = (
    "dl AS (SELECT doc_id, count(*)::BIGINT AS doc_len"
    " FROM toks GROUP BY 1)"
)
_DFT = "dft AS (SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf FROM tf GROUP BY 1)"
_STATS = (
    "stats AS (SELECT count(*)::BIGINT AS n_docs,"
    " avg(doc_len) AS avgdl, sum(doc_len)::BIGINT AS total_tokens FROM dl)"
)


def _values_queries() -> str:
    rows = []
    for qid, text in QUERY_SET:
        for t in text.lower().split():
            rows.append(f"('{qid}', '{t}')")
    return "q(qid, term) AS (VALUES " + ", ".join(rows) + ")"


def _bm25_sql(
    conjunctive: bool,
    msm: int = 0,
    page: int = 1,
    filter_sources: tuple[str, ...] | None = None,
) -> str:
    # MUST semantics: every query term (known or not) must match, so a
    # query containing an out-of-vocabulary term returns nothing — same as
    # the engine's n_matched == n_terms filter in score_queries().
    # msm > 1 replays minimum_should_match (docs matching >= msm distinct
    # query terms); page > 1 replays searchAfter keyset pagination as the
    # equivalent rank offset (ranks renumbered 1..TOPK within the page).
    having = (
        "HAVING count(*) = (SELECT count(*) FROM q q2 WHERE q2.qid = q.qid)"
        if conjunctive
        else (f"HAVING count(*) >= {int(msm)}" if msm > 1 else "")
    )
    lo = (page - 1) * TOPK
    flt = ""
    if filter_sources:
        vals = ", ".join(f"'{s}'" for s in filter_sources)
        # FILTER occur: restrict candidates BEFORE ranking, scores
        # untouched (the engine's filter_docs semi-join)
        flt = (
            " WHERE doc_id IN (SELECT doc_id FROM documents"
            f" WHERE source IN ({vals}))"
        )
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q
  JOIN dft USING (term)
  JOIN tf  USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id, s.n_docs, s.avgdl
  {having}
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank,
         round(s_raw, 4) AS score
  FROM scored{flt}
)
SELECT qid, doc_id, (rank - {lo})::BIGINT AS rank, score
FROM ranked WHERE rank > {lo} AND rank <= {lo + TOPK}
"""


_PRUNE_M = 25


def _pruned_topk_sql() -> str:
    """Replays prune_index_static + BM25: the tf CTE cut to the top
    _PRUNE_M rows per term by (tf DESC, doc_id), then the standard
    scoring over FULL df/dl/stats."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
ptf AS (
  SELECT term, doc_id, tf FROM (
    SELECT term, doc_id, tf,
           row_number() OVER (PARTITION BY term
                              ORDER BY tf DESC, doc_id ASC) AS r
    FROM tf
  ) WHERE r <= {_PRUNE_M}
),
scored AS (
  SELECT q.qid, ptf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * ptf.tf / (ptf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q
  JOIN dft USING (term)
  JOIN ptf USING (term)
  JOIN dl  ON ptf.doc_id = dl.doc_id
  CROSS JOIN stats s
  GROUP BY q.qid, ptf.doc_id, s.n_docs, s.avgdl
)
SELECT qid, doc_id, rank, score FROM (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank,
         round(s_raw, 4) AS score
  FROM scored
) WHERE rank <= {TOPK}
"""


_IMP_BITS, _IMP_RHO = 8, 500


def _impact_sql() -> str:
    """Replays wand.impact_quantized_topk: per-term 8-bit impact
    quantization against the term max, the (impact DESC, term ASC,
    doc_id ASC) rho cut, dequantized-midpoint scoring."""
    levels = repr(float(2**_IMP_BITS - 1))
    denom = repr(float(2**_IMP_BITS))
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
qd AS (SELECT DISTINCT qid, term FROM q),
j AS (
  SELECT qd.qid, qd.term, tf.doc_id,
         ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
         * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) AS c
  FROM qd JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
),
tm AS (SELECT term, max(c) AS m FROM j GROUP BY 1),
qi AS (
  SELECT j.qid, j.term, j.doc_id,
         floor(j.c / t.m * {levels})::BIGINT AS imp, t.m
  FROM j JOIN tm t USING (term)
),
cut AS (
  SELECT qid, doc_id, (imp + 0.5) * m / {denom} AS dq FROM (
    SELECT qi.*, row_number() OVER (PARTITION BY qid
        ORDER BY imp DESC, term ASC, doc_id ASC)::BIGINT AS pr
    FROM qi) WHERE pr <= {_IMP_RHO}
),
sc AS (SELECT qid, doc_id, sum(dq) AS score FROM cut GROUP BY 1, 2)
SELECT qid, doc_id, rank, round(score, 4) AS score FROM (
  SELECT qid, doc_id, score,
         row_number() OVER (PARTITION BY qid
             ORDER BY score DESC, doc_id ASC)::BIGINT AS rank
  FROM sc) WHERE rank <= {TOPK}
"""


def _covering_sql() -> str:
    """Replays score_queries(min_match_docs=doc_id%3+1): the
    CoveringQuery per-doc threshold as a HAVING on the grouped
    matched-term count."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q
  JOIN dft USING (term)
  JOIN tf  USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id, s.n_docs, s.avgdl
  HAVING count(*) >= (tf.doc_id % 3) + 1
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank,
         round(s_raw, 4) AS score
  FROM scored
)
SELECT qid, doc_id, rank, score FROM ranked WHERE rank <= {TOPK}
"""


def _prefix_sql() -> str:
    """Replays prefix_expand_terms + BM25: expansion = dictionary LIKE
    'prefix%', uniform weight 1 per expanded term."""
    vals = ", ".join(f"('{q}', '{p}')" for q, p in _PREFIX_SET)
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS},
p(qid, prefix) AS (VALUES {vals}),
q AS (SELECT DISTINCT p.qid, dft.term
      FROM p JOIN dft ON dft.term LIKE p.prefix || '%'),
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q
  JOIN dft USING (term)
  JOIN tf  USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank,
         round(s_raw, 4) AS score
  FROM scored
)
SELECT qid, doc_id, rank, score FROM ranked WHERE rank <= {TOPK}
"""


def _bool_clause_values() -> str:
    """Parse _BOOL_QUERIES with an INDEPENDENT inline reimplementation of
    the +/- clause grammar + simple analyzer (lowercase, split on
    non-[a-z0-9]) so the oracle does not import the engine parser."""
    import re as _re

    rows = []
    for qid, text in _BOOL_QUERIES:
        for raw in text.split():
            if raw.startswith("+"):
                clause, body = "must", raw[1:]
            elif raw.startswith("-"):
                clause, body = "must_not", raw[1:]
            else:
                clause, body = "should", raw
            for t in _re.split(r"[^a-z0-9]+", body.lower()):
                if t:
                    rows.append(f"('{qid}', '{t}', '{clause}')")
    return "c(qid, term, clause) AS (VALUES " + ", ".join(rows) + ")"


def _bool_query_sql() -> str:
    """BooleanQuery semantics: scoring terms = must+should with
    multiplicity as weight; docs must match every RAW must term
    (out-of-vocabulary must => empty query); must_not prunes before
    ranking."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_bool_clause_values()},
sc AS (
  SELECT qid, term, count(*)::DOUBLE AS weight,
         max(CASE WHEN clause = 'must' THEN 1 ELSE 0 END) AS is_must
  FROM c WHERE clause <> 'must_not' GROUP BY 1, 2
),
nm AS (SELECT qid, sum(is_must)::BIGINT AS n_must FROM sc GROUP BY 1),
scored AS (
  SELECT sc.qid, tf.doc_id,
         sum( sc.weight
              * ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw,
         sum(sc.is_must)::BIGINT AS n_must_matched
  FROM sc
  JOIN dft USING (term)
  JOIN tf  USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  GROUP BY sc.qid, tf.doc_id
),
kept AS (
  SELECT scored.* FROM scored JOIN nm USING (qid)
  WHERE scored.n_must_matched = nm.n_must
    AND NOT EXISTS (
      SELECT 1 FROM c JOIN tf t2 USING (term)
      WHERE c.clause = 'must_not'
        AND c.qid = scored.qid AND t2.doc_id = scored.doc_id
    )
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank,
         round(s_raw, 4) AS score
  FROM kept
)
SELECT qid, doc_id, rank, score FROM ranked WHERE rank <= {TOPK}
"""


def _bm25f_sql() -> str:
    """Replays bm25f_score over title = first _TITLE_LEN simple tokens /
    body = rest: per-field length-normalized tf, field-weighted combined
    pseudo-frequency saturating once, document-level df."""
    w_t, w_b = _BM25F_W["title"], _BM25F_W["body"]
    b_t, b_b = _BM25F_B["title"], _BM25F_B["body"]
    t = _TITLE_LEN
    return f"""
WITH base AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
         '[^a-z0-9]+'), x -> x <> '') AS tk
  FROM documents
),
nd AS (SELECT count(*)::DOUBLE AS n FROM documents),
tt AS (SELECT doc_id, unnest(tk[1:{t}]) AS term FROM base),
tb AS (SELECT doc_id, unnest(tk[{t + 1}:]) AS term FROM base),
tft AS (SELECT term, doc_id, count(*)::DOUBLE AS tf FROM tt GROUP BY 1, 2),
tfb AS (SELECT term, doc_id, count(*)::DOUBLE AS tf FROM tb GROUP BY 1, 2),
dlt AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tt GROUP BY 1),
dlb AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tb GROUP BY 1),
avt AS (SELECT (SELECT coalesce(sum(dl), 0) FROM dlt) / n AS a FROM nd),
avb AS (SELECT (SELECT coalesce(sum(dl), 0) FROM dlb) / n AS a FROM nd),
{_values_queries()},
pt AS (
  SELECT tft.term, tft.doc_id,
         {w_t} * tft.tf / (1.0 - {b_t} + {b_t} * dlt.dl / avt.a) AS wtfn
  FROM tft JOIN dlt USING (doc_id) CROSS JOIN avt
  WHERE tft.term IN (SELECT term FROM q)
),
pb AS (
  SELECT tfb.term, tfb.doc_id,
         {w_b} * tfb.tf / (1.0 - {b_b} + {b_b} * dlb.dl / avb.a) AS wtfn
  FROM tfb JOIN dlb USING (doc_id) CROSS JOIN avb
  WHERE tfb.term IN (SELECT term FROM q)
),
comb AS (
  SELECT term, doc_id, sum(wtfn) AS tfc
  FROM (SELECT * FROM pt UNION ALL SELECT * FROM pb) GROUP BY 1, 2
),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM comb GROUP BY 1),
scored AS (
  SELECT q.qid, comb.doc_id,
         sum( ln(1.0 + (nd.n - dfs.df + 0.5) / (dfs.df + 0.5))
              * comb.tfc / ({K1} + comb.tfc) ) AS s_raw
  FROM q
  JOIN comb USING (term)
  JOIN dfs ON comb.term = dfs.term
  CROSS JOIN nd
  GROUP BY q.qid, comb.doc_id
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank,
         round(s_raw, 4) AS score
  FROM scored
)
SELECT qid, doc_id, rank, score FROM ranked WHERE rank <= {TOPK}
"""


def _complete_prefix_sql() -> str:
    """Replays complete_prefix: popularity-ranked (df desc, cf desc,
    term asc — all-integer, exact) vocab completions per prefix."""
    vals = ", ".join(f"('{q}', '{p}')" for q, p in _COMPLETE_PREFIXES)
    return f"""
WITH {_TOKS}, {_TF}, {_DFT},
p(qid, prefix) AS (VALUES {vals}),
cand AS (
  SELECT p.qid, dft.term, dft.df, dft.cf
  FROM p JOIN dft ON dft.term LIKE p.prefix || '%'
),
ranked AS (
  SELECT qid, term, df,
         row_number() OVER (PARTITION BY qid
           ORDER BY df DESC, cf DESC, term ASC)::BIGINT AS rank
  FROM cand
)
SELECT qid, term AS suggestion, df, rank
FROM ranked WHERE rank <= {_COMPLETE_K}
"""


def _fuzzy_complete_sql() -> str:
    """Replays fuzzy_complete: levenshtein between the typed text and
    the term's typed-length prefix, distance-then-popularity ordering
    (all comparisons integer; DuckDB levenshtein == Spark, verified by
    the fuzzy_query/spell gates)."""
    vals = ", ".join(f"('{q}', '{p}')" for q, p in _FUZZY_TYPED)
    return f"""
WITH {_TOKS}, {_TF}, {_DFT},
p(qid, prefix) AS (VALUES {vals}),
cand AS (
  SELECT p.qid, dft.term, dft.df, dft.cf,
         levenshtein(substr(dft.term, 1, length(p.prefix)),
                     p.prefix)::BIGINT AS distance
  FROM p JOIN dft
    ON levenshtein(substr(dft.term, 1, length(p.prefix)), p.prefix)
       <= {_FUZZY_EDITS}
),
ranked AS (
  SELECT qid, term, df, distance,
         row_number() OVER (PARTITION BY qid
           ORDER BY distance ASC, df DESC, cf DESC, term ASC)::BIGINT
           AS rank
  FROM cand
)
SELECT qid, term AS suggestion, df, distance, rank
FROM ranked WHERE rank <= {_FUZZY_K}
"""


def _infix_suggest_sql() -> str:
    """Replays infix_suggest: contains-anywhere vocab matches ranked
    by popularity (df desc, cf desc, term asc — all-integer, exact);
    strpos == Spark instr (verified parity, see `snippets`)."""
    vals = ", ".join(f"('{q}', '{n}')" for q, n in _INFIX_NEEDLES)
    return f"""
WITH {_TOKS}, {_TF}, {_DFT},
p(qid, needle) AS (VALUES {vals}),
cand AS (
  SELECT p.qid, dft.term, dft.df, dft.cf,
         strpos(dft.term, p.needle)::BIGINT AS "offset"
  FROM p JOIN dft ON strpos(dft.term, p.needle) > 0
),
ranked AS (
  SELECT qid, term, df, "offset",
         row_number() OVER (PARTITION BY qid
           ORDER BY df DESC, cf DESC, term ASC)::BIGINT AS rank
  FROM cand
)
SELECT qid, term AS suggestion, df, "offset", rank
FROM ranked WHERE rank <= {_INFIX_K}
"""


def _explain_sql() -> str:
    """Replays explain_scores: the BM25 scored CTE without the final
    per-(qid, doc) sum — one row per (query, doc, term)."""
    docs_in = ", ".join(str(d) for d in _EXPLAIN_DOCS)
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()}
SELECT q.qid, tf.doc_id, q.term, tf.tf, dl.doc_len, dft.df,
       round(ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5)), 4)
         AS idf,
       round(ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)), 4)
         AS contribution
FROM q
JOIN dft USING (term)
JOIN tf  USING (term)
JOIN dl  ON tf.doc_id = dl.doc_id
CROSS JOIN stats s
WHERE tf.doc_id IN ({docs_in})
"""


def _bpe_pairs_sql() -> str:
    """Replays bpe_pair_counts: word counts -> adjacent character pairs
    (plus the end-of-word marker pair) weighted by word frequency."""
    return f"""
WITH {_TOKS},
w AS (SELECT term AS word, count(*)::BIGINT AS cnt FROM toks GROUP BY 1),
pairs AS (
  SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b, cnt
  FROM w, unnest(range(1, length(word))) AS t(i)
  UNION ALL
  SELECT substr(word, length(word), 1), '</w>', cnt FROM w
)
SELECT a, b, sum(cnt)::BIGINT AS cnt FROM pairs GROUP BY 1, 2
"""


def _sp_candidates_sql(max_piece_len: int = 4, max_pieces: int = 300) -> str:
    """Replays sptrain.sp_candidates: the substring grid as two
    correlated lateral unnests over the word-count table, one groupBy,
    and the deterministic (cnt DESC, piece ASC) rank cut."""
    return f"""
WITH {_TOKS},
w AS (SELECT term AS word, count(*)::BIGINT AS cnt FROM toks GROUP BY 1),
grid AS (
  SELECT substr(word, i, l) AS piece, cnt
  FROM w,
       unnest(range(1, length(word) + 1)) AS t(i),
       unnest(range(1, least({max_piece_len}, length(word) - i + 1) + 1))
         AS u(l)
),
p AS (SELECT piece, sum(cnt)::BIGINT AS cnt FROM grid GROUP BY 1),
r AS (
  SELECT piece, cnt,
         row_number() OVER (ORDER BY cnt DESC, piece ASC)::BIGINT AS rank
  FROM p
)
SELECT piece, cnt, rank FROM r WHERE rank <= {max_pieces}
"""


_WP_MAXL, _WP_MINC, _WP_MAXCHARS = 4, 5, 6


def _wordpiece_sql() -> str:
    """Replays sptrain.wordpiece_encode: the role-aware piece vocab
    (substring grid summed by (piece, is_cont), min_count cut with
    single-char closure), per-position longest-match jump table, and
    the greedy walk — DuckDB follows the jump table with a recursive
    CTE where Spark pointer-doubles; both materialize the identical
    visited set because next() is a function. Over-length words
    (> _WP_MAXCHARS chars) become the single [UNK]."""
    return f"""
WITH RECURSIVE {_TOKS},
w AS (SELECT term AS word, count(*)::BIGINT AS cnt FROM toks GROUP BY 1),
grid AS (
  SELECT word, cnt, i - 1 AS p, l,
         substr(word, i, l) AS piece, (i > 1) AS is_cont
  FROM w,
       unnest(range(1, length(word) + 1)) AS t(i),
       unnest(range(1, least({_WP_MAXL}, length(word) - i + 1) + 1))
         AS u(l)
),
vocab AS (
  SELECT piece, is_cont FROM (
    SELECT piece, is_cont, sum(cnt) AS c FROM grid GROUP BY 1, 2)
  WHERE c >= {_WP_MINC} OR length(piece) = 1
),
ok AS (SELECT word FROM w WHERE length(word) <= {_WP_MAXCHARS}),
best AS MATERIALIZED (
  SELECT g.word, g.p, max(g.l) AS bl
  FROM grid g
  JOIN vocab v ON v.piece = g.piece AND v.is_cont = g.is_cont
  JOIN ok ON ok.word = g.word
  GROUP BY 1, 2),
walk AS (
  SELECT word, 0 AS p FROM ok
  UNION ALL
  SELECT wk.word, wk.p + b.bl
  FROM walk wk JOIN best b ON b.word = wk.word AND b.p = wk.p),
pieces AS (
  SELECT wk.word, wk.p,
         CASE WHEN wk.p > 0
              THEN '##' || substr(wk.word, wk.p + 1, b.bl)
              ELSE substr(wk.word, wk.p + 1, b.bl) END AS piece_out
  FROM walk wk JOIN best b ON b.word = wk.word AND b.p = wk.p)
SELECT word, count(*)::BIGINT AS n_pieces,
       string_agg(piece_out, ' ' ORDER BY p) AS encoded
FROM pieces GROUP BY 1
UNION ALL
SELECT word, 1::BIGINT AS n_pieces, '[UNK]' AS encoded
FROM w WHERE length(word) > {_WP_MAXCHARS}
"""


def _sp_encode_sql() -> str:
    """Replays sp_encode's Viterbi segmentation under the
    _SP_INVENTORY model: the DP over word positions is CTE-unrolled
    (one step per position j = 1.._SP_JMAX), state carried as DuckDB
    lists (best DOUBLE[], back INTEGER[]); each step's (score, l)
    candidates are a concatenated struct list whose max is the
    lexicographic struct max — ties to the larger l, the kernel's
    prefer-longer-final-piece rule. logp literals are the SAME
    python-repr'd doubles the Spark kernel uses, so scores are
    bit-identical by construction. Backtracking is a second unrolled
    chain popping back[j] pieces."""
    import math as m

    cases = " ".join(
        f"WHEN '{p}' THEN {m.log(v)!r}::DOUBLE"
        for p, v in sorted(_SP_INVENTORY.items())
    )

    def lp(s: str) -> str:
        return f"(CASE {s} {cases} ELSE NULL END)"

    parts = [
        _TOKS,
        "w AS (SELECT DISTINCT term AS word FROM toks "
        f"WHERE length(term) <= {_SP_JMAX})",
        "s0 AS (SELECT word, [0.0]::DOUBLE[] AS best,"
        " [0]::INTEGER[] AS back FROM w)",
    ]
    for j in range(1, _SP_JMAX + 1):
        cand_terms = []
        for l in range(1, min(_SP_MAXLEN, j) + 1):
            piece = f"substring(word, {j - l + 1}, {l})"
            base = f"best[{j - l + 1}]"
            lpx = (
                f"coalesce({lp(piece)}, -1e9)" if l == 1 else lp(piece)
            )
            cand_terms.append(
                f"CASE WHEN {lpx} IS NOT NULL THEN "
                f"[struct_pack(score := ({base} + {lpx})::DOUBLE,"
                f" l := {l})] ELSE [] END"
            )
        cands = " || ".join(cand_terms)
        parts.append(
            f"""s{j} AS (
  SELECT word,
    CASE WHEN length(word) >= {j} THEN best ||
      [(SELECT (max(struct_pack(score := c.score, l := c.l))).score
        FROM unnest({cands}) AS t(c))]
    ELSE best END AS best,
    CASE WHEN length(word) >= {j} THEN back ||
      [(SELECT (max(struct_pack(score := c.score, l := c.l))).l
        FROM unnest({cands}) AS t(c))]
    ELSE back END AS back
  FROM s{j - 1})"""
        )
    parts.append(
        f"fin AS (SELECT word, back, length(word) AS n FROM s{_SP_JMAX})"
    )
    parts.append(
        "b0 AS (SELECT word, n, back, n AS j,"
        " CAST([] AS VARCHAR[]) AS pieces FROM fin)"
    )
    for k in range(1, _SP_JMAX + 1):
        parts.append(
            f"""b{k} AS (
  SELECT word, n, back,
    CASE WHEN j > 0 THEN j - back[j + 1] ELSE j END AS j,
    CASE WHEN j > 0 THEN
      [substring(word, j - back[j + 1] + 1, back[j + 1])] || pieces
    ELSE pieces END AS pieces
  FROM b{k - 1})"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT word, array_to_string(pieces, '|') AS sp_tokens,
       len(pieces)::BIGINT AS n_sp_tokens
FROM b{_SP_JMAX}
"""
    )


def _bpe_merges_sql(n_merges: int = None, min_count: int = 2) -> str:
    """Replays the FULL iterative BPE trainer (bpetrain.bpe_train) by
    unrolling ``n_merges`` merge iterations as a CTE chain generated
    from one constant — the same unroll pattern as xquad_rerank's
    3-step greedy and click_model_pbm's 2-round EM. Per iteration:
    pair counts over the evolving symbol table, argmax (cnt DESC, a, b
    — ASCII, so binary collation agrees across engines), then the
    left-to-right non-overlapping merge application. Spark's
    application is a skip-flag fold (_merge_pair_expr); the SQL replay
    uses the equivalent greedy rule: mark candidate positions
    (syms[i], syms[i+1]) = (a, b), group consecutive candidates into
    islands (consecutive candidates only arise when a = b, e.g. 'aaaa'
    under (a,a)), and merge the even offsets within each island.
    Early stop (best count < min_count) is replayed by cutting the
    emitted list at the first sub-threshold step. Multi-consumer CTEs
    are AS MATERIALIZED — DuckDB otherwise inlines seqs{k} into both
    its consumers and the chain re-plans exponentially."""
    if n_merges is None:
        n_merges = _BPE_MERGES
    parts = [
        _TOKS,
        "w AS (SELECT term AS word, count(*)::BIGINT AS cnt"
        " FROM toks GROUP BY 1)",
        "seqs0 AS MATERIALIZED (SELECT word, cnt, "
        "list_transform(range(1, length(word) + 1), i -> substr(word, i, 1))"
        " || ['</w>'] AS syms FROM w)",
    ]
    for k in range(n_merges):
        parts.append(
            f"pairs{k} AS (SELECT list_extract(syms, i) AS a, "
            f"list_extract(syms, i + 1) AS b, cnt "
            f"FROM seqs{k}, unnest(range(1, len(syms))) AS t(i) "
            f"WHERE len(syms) >= 2)"
        )
        parts.append(
            f"best{k} AS MATERIALIZED (SELECT a, b, sum(cnt)::BIGINT AS c "
            f"FROM pairs{k} GROUP BY 1, 2 "
            f"ORDER BY c DESC, a ASC, b ASC LIMIT 1)"
        )
        if k < n_merges - 1:
            parts.append(
                f"pos{k} AS (SELECT word, cnt, i, "
                f"list_extract(syms, i) AS s, "
                f"CASE WHEN i < len(syms) THEN list_extract(syms, i + 1) "
                f"END AS nx "
                f"FROM seqs{k}, unnest(range(1, len(syms) + 1)) AS t(i))"
            )
            parts.append(
                f"cnd{k} AS (SELECT p.*, "
                f"coalesce(p.s = b.a AND p.nx = b.b, false) AS cand "
                f"FROM pos{k} p CROSS JOIN best{k} b)"
            )
            parts.append(
                f"isl{k} AS (SELECT *, CASE WHEN cand THEN "
                f"i - row_number() OVER (PARTITION BY word, cand ORDER BY i) "
                f"END AS isl FROM cnd{k})"
            )
            parts.append(
                f"sel{k} AS (SELECT *, CASE WHEN cand THEN "
                f"(i - min(i) OVER (PARTITION BY word, isl)) % 2 = 0 "
                f"ELSE false END AS sel FROM isl{k})"
            )
            parts.append(
                f"drp{k} AS (SELECT *, "
                f"coalesce(lag(sel) OVER (PARTITION BY word ORDER BY i), "
                f"false) AS prev_sel FROM sel{k})"
            )
            parts.append(
                f"seqs{k + 1} AS MATERIALIZED (SELECT word, cnt, "
                f"list(CASE WHEN sel THEN s || nx ELSE s END ORDER BY i) "
                f"AS syms FROM drp{k} WHERE NOT prev_sel GROUP BY word, cnt)"
            )
    bests = " UNION ALL ".join(
        f"SELECT {k} AS k, a, b, c FROM best{k}" for k in range(n_merges)
    )
    parts.append(f"bests AS ({bests})")
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT k::BIGINT AS merge_idx, a, b FROM bests
WHERE k < (SELECT coalesce(min(k), {n_merges}) FROM bests
           WHERE c < {min_count})
ORDER BY merge_idx
"""
    )


def _upsert_sql() -> str:
    """Replays update_docs: term stats of the upserted index must equal
    a fresh build over the modified corpus."""
    ids = ", ".join(str(d) for d in _UPSERT_DOCS)
    return f"""
WITH docs2 AS (
  SELECT doc_id,
         CASE WHEN doc_id IN ({ids})
              THEN text || '{_UPSERT_SUFFIX}' ELSE text END AS text
  FROM documents
),
toks AS (SELECT doc_id, unnest(list_filter(
  regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''))
  AS term FROM docs2),
tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2)
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf
FROM tf GROUP BY 1
"""


def _ext_metrics_sql() -> str:
    """Replays evaluation.extended_metrics (bpref / ERR@k / RBP /
    judged-fraction) over the BM25 top-k run and the pseudo qrels.
    gmax=1 (binary grades) so R_i = (2^rel - 1) / 2."""
    p = repr(float(_RBP_P))
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
run AS (
  SELECT qid, doc_id, rank FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank
    FROM scored) WHERE rank <= {TOPK}
),
{_QRELS_SQL},
joined AS (
  SELECT r.qid, r.doc_id, r.rank,
         CASE WHEN qr.rel IS NOT NULL THEN 1.0 ELSE 0.0 END AS judged,
         coalesce(qr.rel, 0.0) AS rel
  FROM run r LEFT JOIN qrels qr
    ON r.qid = qr.qid AND r.doc_id = CAST(qr.docid AS BIGINT)
),
flagged AS (
  SELECT *,
         CASE WHEN rel >= 1.0 THEN 1.0 ELSE 0.0 END AS is_rel,
         CASE WHEN judged > 0 AND rel < 1.0 THEN 1.0 ELSE 0.0 END AS is_nrj,
         (pow(2.0, rel) - 1.0) / 2.0 AS r_i
  FROM joined
),
win AS (
  SELECT *,
         exp(coalesce(sum(ln(1.0 - r_i)) OVER (PARTITION BY qid ORDER BY rank
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)) AS survive,
         coalesce(sum(is_nrj) OVER (PARTITION BY qid ORDER BY rank
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS n_above
  FROM flagged
),
totals AS (
  SELECT qid,
         sum(CASE WHEN rel >= 1.0 THEN 1 ELSE 0 END)::BIGINT AS n_rel,
         sum(CASE WHEN rel < 1.0 THEN 1 ELSE 0 END)::BIGINT AS n_nonrel
  FROM qrels GROUP BY qid
),
perq AS (
  SELECT w.qid,
         max(t.n_rel) AS r_tot,
         sum(CASE WHEN w.is_rel > 0 THEN
               CASE WHEN least(t.n_rel, t.n_nonrel) > 0
                    THEN 1.0 - least(w.n_above, least(t.n_rel, t.n_nonrel)::DOUBLE)
                         / least(t.n_rel, t.n_nonrel)
                    ELSE 1.0 END
             ELSE 0.0 END) AS bp_num,
         sum(CASE WHEN w.rank <= {TOPK}
                  THEN w.r_i / w.rank * w.survive ELSE 0.0 END) AS err,
         sum(w.is_rel * pow({p}, w.rank - 1)) AS rbp_sum,
         avg(w.judged) AS judged_frac
  FROM win w LEFT JOIN totals t USING (qid)
  GROUP BY w.qid
)
SELECT qid,
       round(CASE WHEN r_tot > 0 THEN bp_num / r_tot ELSE 0.0 END, 4) AS bpref,
       round(err, 4) AS err,
       round((1.0 - {p}) * rbp_sum, 4) AS rbp,
       round(judged_frac, 4) AS judged_frac
FROM perq
"""


_ANDCG_K, _ANDCG_ALPHA = 5, 0.5


def _alpha_ndcg_sql() -> str:
    """Replays evaluation.alpha_ndcg over the BM25 top-TOPK run and
    the arithmetic aspect qrels (_aspect_qrels): per-(qid, aspect)
    prior-coverage window counts, gain Σ (1−α)^prior, ln/ln2 discount,
    and the _ANDCG_K-step greedy ideal unroll (4dp-rounded marginal
    gains — exact dyadic sums, so fold-order-safe — docid ASC ties,
    rounded gain accumulated). α=0.5 keeps (1−α)^n exact on both
    engines. State CTEs AS MATERIALIZED (multi-consumer)."""
    oma = repr(1.0 - _ANDCG_ALPHA)
    steps, ideal_sel = [], []
    for i in range(1, _ANDCG_K + 1):
        prev = f"cnt{i - 1}"
        excl = " ".join(
            f"AND NOT EXISTS (SELECT 1 FROM p{j} WHERE p{j}.qid = aq.qid"
            f" AND p{j}.docid = aq.docid)"
            for j in range(1, i)
        )
        steps.append(f"""
m{i} AS (
  SELECT aq.qid, aq.docid, round(sum(power({oma}, c.c)), 4) AS g
  FROM aq JOIN {prev} c
    ON c.qid = aq.qid AND c.aspect = aq.aspect
  WHERE 1 = 1 {excl}
  GROUP BY 1, 2),
p{i} AS MATERIALIZED (
  SELECT qid, docid, g FROM (
    SELECT qid, docid, g,
           row_number() OVER (PARTITION BY qid
               ORDER BY g DESC, docid ASC) AS rn
    FROM m{i}) WHERE rn = 1),
cnt{i} AS MATERIALIZED (
  SELECT c.qid, c.aspect,
         c.c + CASE WHEN EXISTS (
             SELECT 1 FROM aq JOIN p{i}
               ON p{i}.qid = aq.qid AND p{i}.docid = aq.docid
             WHERE aq.qid = c.qid AND aq.aspect = c.aspect)
           THEN 1 ELSE 0 END AS c
  FROM {prev} c)""")
        ideal_sel.append(
            f"SELECT qid, g / (ln({float(i + 1)!r}) / ln(2.0)) AS ig"
            f" FROM p{i}"
        )
    return f"""
WITH {_BM25_RUN_CTES},
run AS (SELECT qid, doc_id::VARCHAR AS docid, rank
        FROM ranked WHERE rank <= {_ANDCG_K}),
aq AS MATERIALIZED (
  SELECT qn.qid, d.doc_id::VARCHAR AS docid, a.a AS aspect
  FROM (SELECT DISTINCT qid, CAST(substr(qid, 2) AS BIGINT) AS qn
        FROM q) qn
  CROSS JOIN (SELECT doc_id FROM documents) d
  CROSS JOIN (VALUES (0), (1), (2)) a(a)
  WHERE (d.doc_id + qn.qn) % 3 = 0
    AND ((a.a = 0 AND (d.doc_id + qn.qn) % 2 = 0)
         OR a.a = 1
         OR (a.a = 2 AND (d.doc_id + qn.qn) % 4 = 0))),
sysj AS (
  SELECT r.qid, r.rank, aq.aspect,
         count(*) OVER (PARTITION BY r.qid, aq.aspect ORDER BY r.rank
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior
  FROM run r JOIN aq ON aq.qid = r.qid AND aq.docid = r.docid),
sysg AS (SELECT qid, rank, sum(power({oma}, prior)) AS g
         FROM sysj GROUP BY 1, 2),
dcg AS (SELECT qid, sum(g / (ln(rank + 1.0) / ln(2.0))) AS dcg
        FROM sysg GROUP BY 1),
cnt0 AS MATERIALIZED (
  SELECT DISTINCT qid, aspect, 0 AS c FROM aq),
{','.join(steps)},
idcg AS (SELECT qid, sum(ig) AS idcg
         FROM ({' UNION ALL '.join(ideal_sel)}) GROUP BY 1)
SELECT i.qid,
       round(coalesce(d.dcg, 0.0), 4) AS dcg,
       round(i.idcg, 4) AS idcg,
       round(coalesce(d.dcg, 0.0) / i.idcg, 4) AS alpha_ndcg
FROM idcg i LEFT JOIN dcg d USING (qid)
WHERE i.idcg > 0
"""


def _err_ia_sql() -> str:
    """Replays evaluation.intent_aware_metrics over the BM25 top-TOPK
    run and the arithmetic aspect qrels: per-(qid, aspect) ERR cascade
    with dyadic stop probability 0.5 (gmax=1), uniform average over
    the query's judged aspects, plus subtopic recall@k."""
    r = repr(0.5)
    return f"""
WITH {_BM25_RUN_CTES},
run AS (SELECT qid, doc_id::VARCHAR AS docid, rank
        FROM ranked WHERE rank <= {TOPK}),
aq AS MATERIALIZED (
  SELECT qn.qid, d.doc_id::VARCHAR AS docid, a.a AS aspect
  FROM (SELECT DISTINCT qid, CAST(substr(qid, 2) AS BIGINT) AS qn
        FROM q) qn
  CROSS JOIN (SELECT doc_id FROM documents) d
  CROSS JOIN (VALUES (0), (1), (2)) a(a)
  WHERE (d.doc_id + qn.qn) % 3 = 0
    AND ((a.a = 0 AND (d.doc_id + qn.qn) % 2 = 0)
         OR a.a = 1
         OR (a.a = 2 AND (d.doc_id + qn.qn) % 4 = 0))),
na AS (SELECT qid, count(DISTINCT aspect)::BIGINT AS n_aspects
       FROM aq GROUP BY 1),
j AS (
  SELECT r.qid, aq.aspect, r.rank,
         count(*) OVER (PARTITION BY r.qid, aq.aspect ORDER BY r.rank
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior
  FROM run r JOIN aq ON aq.qid = r.qid AND aq.docid = r.docid),
pa AS (SELECT qid, aspect,
              sum({r} * power({r}, prior) / rank) AS err_a
       FROM j GROUP BY 1, 2),
ag AS (SELECT qid, sum(err_a) AS err_sum,
              count(DISTINCT aspect)::BIGINT AS covered
       FROM pa GROUP BY 1)
SELECT n.qid, n.n_aspects,
       round(coalesce(a.err_sum, 0.0) / n.n_aspects, 4) AS err_ia,
       round(coalesce(a.covered, 0)::DOUBLE / n.n_aspects, 4) AS s_recall
FROM na n LEFT JOIN ag a USING (qid)
"""


def _qpp_pre_sql() -> str:
    """Replays qpp.qpp_pre_retrieval: avg/max Lucene idf + SCQ over the
    query's in-vocabulary distinct terms."""
    return f"""
WITH {_TOKS}, {_TF}, {_DFT}, {_values_queries()},
j AS (
  SELECT DISTINCT q.qid, q.term, dft.df, dft.cf
  FROM q JOIN dft USING (term)
),
s AS (SELECT count(*)::BIGINT AS n_docs FROM documents)
SELECT qid, count(*)::BIGINT AS n_terms,
       round(avg(ln(1.0 + (s.n_docs - df + 0.5) / (df + 0.5))), 4) AS avg_idf,
       round(max(ln(1.0 + (s.n_docs - df + 0.5) / (df + 0.5))), 4) AS max_idf,
       round(sum((1.0 + ln(cf)) * ln(1.0 + s.n_docs / df)), 4) AS scq
FROM j CROSS JOIN s
GROUP BY qid
"""


def _qpp_post_sql() -> str:
    """Replays qpp.qpp_post_retrieval over the full BM25 candidate
    list: WIG (top-k mean minus full-list mean, / sqrt(|q|)) and NQC
    (top-k stddev_pop / full-list mean)."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
ranked AS (
  SELECT qid, doc_id, s_raw,
         row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank
  FROM scored
),
nt AS (
  SELECT qid, count(DISTINCT q.term)::BIGINT AS n_terms
  FROM q JOIN dft USING (term) GROUP BY qid
)
SELECT r.qid, count(*)::BIGINT AS n_candidates,
       round((avg(CASE WHEN r.rank <= {TOPK} THEN r.s_raw END) - avg(r.s_raw))
             / sqrt(nt.n_terms), 4) AS wig,
       round(stddev_pop(CASE WHEN r.rank <= {TOPK} THEN r.s_raw END)
             / avg(r.s_raw), 4) AS nqc
FROM ranked r JOIN nt USING (qid)
GROUP BY r.qid, nt.n_terms
"""


def _synonym_sql() -> str:
    """Replays synonym_topk: per-(qid, group, doc) blended tf (sum),
    group idf from max df, then the BM25 sum over groups."""
    vals = ", ".join(f"('{a}', '{b}')" for a, b in _SYN_TABLE)
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
syn(grp, member) AS (VALUES {vals}),
members AS (
  SELECT DISTINCT q.qid, q.term AS grp, coalesce(s.member, q.term) AS term
  FROM q LEFT JOIN syn s ON s.grp = q.term
  UNION
  SELECT DISTINCT qid, term AS grp, term FROM q
),
en AS (
  SELECT m.qid, m.grp, m.term, dft.df FROM members m JOIN dft USING (term)
),
gdf AS (SELECT qid, grp, max(df) AS grp_df FROM en GROUP BY 1, 2),
blend AS (
  SELECT e.qid, e.grp, tf.doc_id,
         sum(tf.tf) AS tf_sum, max(dl.doc_len) AS doc_len,
         max(g.grp_df) AS grp_df
  FROM en e JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN gdf g ON g.qid = e.qid AND g.grp = e.grp
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT b.qid, b.doc_id,
         sum( ln(1.0 + (s.n_docs - b.grp_df + 0.5) / (b.grp_df + 0.5))
              * b.tf_sum / (b.tf_sum + {K1} * (1.0 - {B} + {B} * b.doc_len / s.avgdl)) ) AS s_raw
  FROM blend b CROSS JOIN stats s GROUP BY 1, 2
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank,
         round(s_raw, 4) AS score
  FROM scored
)
SELECT qid, doc_id, rank, score FROM ranked WHERE rank <= {TOPK}
"""


def _collapse_sql() -> str:
    """Replays collapse_results over the depth-_COLLAPSE_DEPTH BM25 run:
    keep-1 per (qid, source), re-rank, top-k."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
run AS (
  SELECT qid, doc_id, s_raw FROM (
    SELECT qid, doc_id, s_raw,
           row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC) AS r
    FROM scored) WHERE r <= {_COLLAPSE_DEPTH}
),
j AS (
  SELECT r.qid, r.doc_id, r.s_raw, d.source
  FROM run r JOIN documents d ON r.doc_id = d.doc_id
),
keep AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY qid, source
              ORDER BY s_raw DESC, doc_id ASC) AS kr
    FROM j) WHERE kr = 1
)
SELECT qid, doc_id, rank, score, source FROM (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank,
         round(s_raw, 4) AS score, source
  FROM keep) WHERE rank <= {TOPK}
"""


def _count_hits_sql() -> str:
    """Replays count_hits: distinct matching docs per query (OR
    semantics, no scoring)."""
    return f"""
WITH {_TOKS}, {_TF}, {_values_queries()}
SELECT q.qid, count(DISTINCT tf.doc_id)::BIGINT AS n_hits
FROM (SELECT DISTINCT qid, term FROM q) q JOIN tf USING (term)
GROUP BY q.qid
"""


def _unordered_window_sql() -> str:
    """Replays unordered_window_query: anchors at the first term's
    occurrences, one EXISTS per companion term within +/- window."""
    exists = " AND ".join(
        f"EXISTS (SELECT 1 FROM pos x WHERE x.doc_id = p1.doc_id"
        f" AND x.term = '{t}'"
        f" AND x.p BETWEEN p1.p - {_PROX_WINDOW} AND p1.p + {_PROX_WINDOW})"
        for t in _PHRASE[1:]
    )
    return rf"""
WITH t AS (SELECT doc_id, list_filter(
        regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')
        AS toks FROM documents),
e AS (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM t),
pos AS (SELECT doc_id, i AS p, toks[(i+1)::INT] AS term FROM e)
SELECT p1.doc_id, count(*)::BIGINT AS uw_freq
FROM pos p1
WHERE p1.term = '{_PHRASE[0]}' AND {exists}
GROUP BY 1
"""


def _sort_by_field_sql() -> str:
    """Replays sort_by_field: constant-score candidates ordered by
    n_chars desc, doc_id tiebreak."""
    return f"""
WITH {_TOKS}, {_TF}, {_values_queries()},
cand AS (
  SELECT DISTINCT q.qid, tf.doc_id
  FROM (SELECT DISTINCT qid, term FROM q) q JOIN tf USING (term)
),
j AS (
  SELECT c.qid, c.doc_id, d.n_chars
  FROM cand c JOIN documents d USING (doc_id)
)
SELECT qid, doc_id, rank, n_chars FROM (
  SELECT qid, doc_id, n_chars,
         row_number() OVER (PARTITION BY qid
             ORDER BY n_chars DESC, doc_id ASC)::BIGINT AS rank
  FROM j) WHERE rank <= {TOPK}
"""


def _function_score_sql() -> str:
    """Replays function_score over the depth-_COLLAPSE_DEPTH BM25 run:
    score x ln(1 + n_chars/100), re-ranked."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
run AS (
  SELECT qid, doc_id, s_raw FROM (
    SELECT qid, doc_id, s_raw,
           row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC) AS r
    FROM scored) WHERE r <= {_COLLAPSE_DEPTH}
),
boosted AS (
  SELECT r.qid, r.doc_id, r.s_raw * ln(1.0 + d.n_chars / 100.0) AS s2
  FROM run r JOIN documents d USING (doc_id)
)
SELECT qid, doc_id, rank, score FROM (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY s2 DESC, doc_id ASC)::BIGINT AS rank,
         round(s2, 4) AS score
  FROM boosted) WHERE rank <= {TOPK}
"""


def _mlm_mask_sql() -> str:
    """Replays textstats.mlm_mask_plan: position table via the
    range-unnest, vocabulary ids by row_number over the distinct
    terms, all three draws as the literal mix formula."""
    from luc4ir_spark.functions import hashing as hx

    A, B, P = hx.MIX_A, hx.MIX_B, hx.MIX_P
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
         '[^a-z0-9]+'), x -> x <> '') AS tk
  FROM documents
),
pos AS (
  SELECT doc_id, i::BIGINT - 1 AS pos, tk[i::INT] AS label
  FROM t, unnest(range(1, len(tk) + 1)) AS r(i)
),
vocab AS (
  SELECT row_number() OVER (ORDER BY term) - 1 AS vid, term
  FROM (SELECT DISTINCT unnest(tk) AS term FROM t)
),
vv AS (SELECT count(*)::BIGINT AS v FROM vocab),
h AS (
  SELECT doc_id, pos, label,
         (doc_id % {P}) * 1009 + pos AS e1
  FROM pos
),
d AS (
  SELECT doc_id, pos, label,
         (({A} * (e1 % {P}) + {B}) % {P}) % 10000 AS s,
         (({A} * ((e1 * 31 + 17) % {P}) + {B}) % {P}) % 10 AS b,
         (({A} * ((e1 * 101 + 29) % {P}) + {B}) % {P}) % vv.v AS vid
  FROM h CROSS JOIN vv
)
SELECT d.doc_id, d.pos, d.label,
       CASE WHEN d.b < 8 THEN 'mask'
            WHEN d.b = 8 THEN 'random' ELSE 'keep' END AS action,
       CASE WHEN d.b < 8 THEN '[MASK]'
            WHEN d.b = 8 THEN vo.term ELSE d.label END AS input_token
FROM d LEFT JOIN vocab vo ON vo.vid = d.vid
WHERE d.s < 1500
"""


def _mask_spans_sql() -> str:
    """Replays textstats.mask_spans: integer candidate grid + the
    portable mix-hash selection, all literal arithmetic."""
    from luc4ir_spark.functions import hashing as hx

    L, S, D = _MASK_SPAN_LEN, _MASK_STRIDE, _MASK_DENOM
    key = f"(doc_id * 1048576 + s)"
    mix = f"(({hx.MIX_A} * ({key} % {hx.MIX_P}) + {hx.MIX_B}) % {hx.MIX_P})"
    return f"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> ''))::BIGINT AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         unnest(range(0, (n_tokens - {L}) // {S} + 1)) * {S} AS s
  FROM t WHERE n_tokens >= {L}
)
SELECT doc_id, s AS span_start, s + {L} AS span_end, n_tokens
FROM c WHERE {mix} % {D} = 0
"""


_POS_CTES = r"""t AS (SELECT doc_id, list_filter(
        regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')
        AS toks FROM documents),
e AS (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM t),
pos AS (SELECT doc_id, i AS p, toks[(i+1)::INT] AS term FROM e)"""


def _span_first_sql() -> str:
    """Replays span_first_query: occurrences at position < end."""
    return f"""
WITH {_POS_CTES}
SELECT doc_id, count(*)::BIGINT AS first_freq
FROM pos WHERE term = '{_SPAN_FIRST_TERM}' AND p < {_SPAN_FIRST_END}
GROUP BY doc_id
"""


_MPP_TERMS, _MPP_PREFIX, _MPP_MAXEXP = ["fast"], "s", 4


def _mpp_sql() -> str:
    """Replays match_phrase_prefix_query: the last phrase position
    admits any of the first _MPP_MAXEXP dictionary terms (term ASC)
    with the prefix; anchors on the literal leading term, one EXISTS
    per later position against the expansion set."""
    n = len(_MPP_TERMS)
    exists = " AND ".join(
        "EXISTS (SELECT 1 FROM pos x WHERE x.doc_id = p1.doc_id"
        f" AND x.term = '{t}' AND x.p = p1.p + {i})"
        for i, t in enumerate(_MPP_TERMS[1:], start=1)
    )
    if exists:
        exists += " AND "
    return f"""
WITH {_POS_CTES},
exp AS (SELECT term FROM (
  SELECT DISTINCT term FROM pos WHERE term LIKE '{_MPP_PREFIX}%'
  ORDER BY term LIMIT {_MPP_MAXEXP}))
SELECT p1.doc_id, count(*)::BIGINT AS phrase_freq
FROM pos p1
WHERE p1.term = '{_MPP_TERMS[0]}' AND {exists}EXISTS (
  SELECT 1 FROM pos x JOIN exp ON x.term = exp.term
  WHERE x.doc_id = p1.doc_id AND x.p = p1.p + {n})
GROUP BY 1
"""


def _multi_phrase_sql() -> str:
    """Replays multi_phrase_query: start anchors on step 0's
    alternatives, one EXISTS at p+i per later step."""
    alts0 = ", ".join(f"'{t}'" for t in _MULTI_PHRASE[0])
    exists = " AND ".join(
        "EXISTS (SELECT 1 FROM pos x WHERE x.doc_id = p1.doc_id"
        f" AND x.term IN ({', '.join(repr(t) for t in alts)})"
        f" AND x.p = p1.p + {i})"
        for i, alts in enumerate(_MULTI_PHRASE[1:], start=1)
    )
    return f"""
WITH {_POS_CTES}
SELECT p1.doc_id, count(*)::BIGINT AS phrase_freq
FROM pos p1
WHERE p1.term IN ({alts0}) AND {exists}
GROUP BY 1
"""


def _char_entropy_sql() -> str:
    """Replays textstats.char_entropy: fixed-alphabet counts via the
    length(replace(...)) trick, terms summed in the SAME written order
    as the Spark expression."""
    terms = []
    for ch in ts.CHAR_ENTROPY_ALPHABET:
        lit = ch.replace("'", "''")
        terms.append(f"(length(t) - length(replace(t, '{lit}', '')))::DOUBLE")
    other = f"(length(t)::DOUBLE - ({' + '.join(terms)}))"
    pieces = " + ".join(
        f"(CASE WHEN {c} > 0 THEN -({c} / n) * ln({c} / n) ELSE 0.0 END)"
        for c in terms + [other]
    )
    return f"""
WITH l AS (SELECT doc_id, lower(text) AS t FROM documents
           WHERE length(text) > 0),
w AS (SELECT doc_id, t, length(t)::DOUBLE AS n FROM l)
SELECT doc_id, n::BIGINT AS n_chars_total, round({pieces}, 4) AS entropy
FROM w
"""


def _comb_fuse_sql(method: str = "mnz") -> str:
    """Replays comb_fuse over the bm25 + lmdir top-k runs:
    'mnz' = per-(run, qid) min-max normalization, sum x match count;
    'zsum' = per-(run, qid) z-scores, plain sum."""
    if method == "zsum":
        norm = (
            "CASE WHEN sd > 0 THEN (s_raw - av) / sd ELSE 0.0 END"
        )
        stats_cols = (
            "avg(s_raw) OVER (PARTITION BY run_id, qid) AS av,\n"
            "         stddev_samp(s_raw)"
            " OVER (PARTITION BY run_id, qid) AS sd"
        )
        fused = "s"
    else:
        norm = (
            "CASE WHEN mx > mn THEN (s_raw - mn) / (mx - mn)"
            " ELSE 1.0 END"
        )
        stats_cols = (
            "min(s_raw) OVER (PARTITION BY run_id, qid) AS mn,\n"
            "         max(s_raw) OVER (PARTITION BY run_id, qid) AS mx"
        )
        fused = "s * nz"
    return f"""
WITH {_two_run_ctes()},
runs AS (
  SELECT 'bm25' AS run_id, sb.qid, sb.doc_id, sb.s_raw
  FROM sb JOIN rb USING (qid, doc_id) WHERE rb.rank <= {TOPK}
  UNION ALL
  SELECT 'lmdir', sl.qid, sl.doc_id, sl.s_raw
  FROM sl JOIN rl USING (qid, doc_id) WHERE rl.rank <= {TOPK}
),
n AS (
  SELECT run_id, qid, doc_id, s_raw,
         {stats_cols}
  FROM runs
),
a AS (
  SELECT qid, doc_id,
         sum({norm}) AS s,
         count(*)::DOUBLE AS nz
  FROM n GROUP BY 1, 2
)
SELECT qid, doc_id, rank, fused FROM (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
             ORDER BY {fused} DESC, doc_id ASC)::BIGINT AS rank,
         round({fused}, 4) AS fused
  FROM a) WHERE rank <= {TOPK}
"""


_CMS_DEPTH, _CMS_WIDTH = 4, 64
_BLOOM_M, _BLOOM_K = 256, 3
_BLOOM_PROBES = [
    "the", "spark", "data", "zzznotaterm", "qqqq", "windowx",
]


def _bloom_sql() -> str:
    """Replays bloom_filter_bits + bloom_might_contain over the vocab:
    same md5-60bit ids, same double hashing, bit set as a DISTINCT
    relation, probe = all k bits present."""
    from luc4ir_spark.functions import hashing as hx
    from luc4ir_spark.operators.sketches import CMS_SALT

    m, k = _BLOOM_M, _BLOOM_K
    vals = ", ".join(f"('{w}')" for w in _BLOOM_PROBES)

    def hashed(src: str) -> str:
        return f"""
  SELECT term,
         ({hx.MIX_A} * (tid % {hx.MIX_P}) + {hx.MIX_B}) % {hx.MIX_P} AS h1,
         1 + (({hx.MIX_A} * ((tid + {CMS_SALT}) % {hx.MIX_P})
               + {hx.MIX_B}) % {hx.MIX_P}) % ({m} - 1) AS h2
  FROM (SELECT term,
               ('0x' || substr(md5(term), 1, 15))::BIGINT AS tid
        FROM {src})"""

    return f"""
WITH {_TOKS}, {_TF}, {_DFT},
vh AS ({hashed("dft")}),
bits AS (
  SELECT DISTINCT (h1 + i * h2) % {m} AS bit
  FROM vh, unnest(range({k})) AS r(i)
),
pr(term) AS (VALUES {vals}),
ph AS ({hashed("pr")}),
pb AS (
  SELECT term AS key, (h1 + i * h2) % {m} AS bit
  FROM ph, unnest(range({k})) AS r(i)
)
SELECT key,
       sum(CASE WHEN bit IN (SELECT bit FROM bits) THEN 1 ELSE 0 END)
         = {k} AS might_contain
FROM pb GROUP BY 1
"""


def _countmin_sql() -> str:
    """Replays sketches.countmin_sketch over the index's term cf:
    portable md5-60bit term ids, Kirsch-Mitzenmacher double hashing,
    all-integer cell sums."""
    from luc4ir_spark.functions import hashing as hx
    from luc4ir_spark.operators.sketches import CMS_SALT

    d, w = _CMS_DEPTH, _CMS_WIDTH
    return f"""
WITH {_TOKS}, {_TF}, {_DFT},
t AS (SELECT ('0x' || substr(md5(term), 1, 15))::BIGINT AS tid, cf
      FROM dft),
h AS (SELECT ({hx.MIX_A} * (tid % {hx.MIX_P}) + {hx.MIX_B})
               % {hx.MIX_P} AS h1,
             1 + (({hx.MIX_A} * ((tid + {CMS_SALT}) % {hx.MIX_P})
                   + {hx.MIX_B}) % {hx.MIX_P}) % ({w} - 1) AS h2,
             cf FROM t),
e AS (SELECT h1, h2, cf, unnest(range({d})) AS r FROM h)
SELECT r::BIGINT AS r, ((h1 + r * h2) % {w})::BIGINT AS c,
       sum(cf)::BIGINT AS total
FROM e GROUP BY 1, 2
"""


def _ltr_features_sql() -> str:
    """Replays retrieval.ltr_features: every feature aggregated from
    the SAME single postings join (bm25 / lmdir contributions, match
    count, tf sum, idf sum, doc_len), first-pass rank on bm25."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
feat AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS bm25_raw,
         sum( greatest(ln(1.0 + tf.tf / ({MU} * dft.cf / s.total_tokens))
              + ln({MU} / (dl.doc_len + {MU})), 0.0) ) AS lmdir_raw,
         count(*)::BIGINT AS n_matched,
         sum(tf.tf)::BIGINT AS sum_tf,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5)) ) AS idf_raw,
         max(dl.doc_len)::BIGINT AS doc_len
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY bm25_raw DESC, doc_id ASC)::BIGINT AS rank
  FROM feat
)
SELECT qid, doc_id, rank, round(bm25_raw, 4) AS bm25,
       round(lmdir_raw, 4) AS lmdir, n_matched, sum_tf,
       round(idf_raw, 4) AS idf_sum, doc_len
FROM ranked WHERE rank <= {TOPK}
"""


_LTR_L2 = 1.0


def _ltr_train_sql() -> str:
    """Replays retrieval.ltr_train_ridge over the ltr_features
    candidates labeled by the pseudo qrels: sufficient statistics in
    one aggregate, 2x2 ridge solve and statistics-only MSE as stepwise
    projections with the engine's exact float64 associations."""
    lam = repr(float(_LTR_L2))
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
{_QRELS_SQL},
feat AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS x1,
         sum( greatest(ln(1.0 + tf.tf / ({MU} * dft.cf / s.total_tokens))
              + ln({MU} / (dl.doc_len + {MU})), 0.0) ) AS x2
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY 1, 2
),
cand AS (
  SELECT qid, doc_id, x1, x2 FROM (
    SELECT qid, doc_id, x1, x2,
           row_number() OVER (PARTITION BY qid
               ORDER BY x1 DESC, doc_id ASC)::BIGINT AS rank
    FROM feat) WHERE rank <= {TOPK}
),
lab AS (
  SELECT c.x1, c.x2,
         CASE WHEN coalesce(qr.rel, 0.0) >= 1.0 THEN 1.0 ELSE 0.0 END AS y
  FROM cand c LEFT JOIN qrels qr
    ON c.qid = qr.qid AND c.doc_id = qr.docid
),
st AS (
  SELECT count(*)::BIGINT AS n,
         sum(x1 * x1) AS s11, sum(x1 * x2) AS s12, sum(x2 * x2) AS s22,
         sum(x1 * y) AS b1, sum(x2 * y) AS b2, sum(y * y) AS syy
  FROM lab
),
p1 AS (SELECT *, s11 + {lam} AS s11p, s22 + {lam} AS s22p FROM st),
p2 AS (SELECT *, s11p * s22p - s12 * s12 AS det FROM p1),
p3 AS (SELECT *,
              (s22p * b1 - s12 * b2) / det AS w1,
              (s11p * b2 - s12 * b1) / det AS w2
       FROM p2)
SELECT n, round(w1, 4) AS w1, round(w2, 4) AS w2,
       round((syy - 2.0 * (w1 * b1 + w2 * b2)
              + (w1 * w1 * s11 + 2.0 * (w1 * w2 * s12)
                 + w2 * w2 * s22)) / n::DOUBLE, 4) AS mse
FROM p3
"""


def _ltr_apply_sql() -> str:
    """Replays retrieval.ltr_apply_linear over the ltr_train model:
    the full train CTE chain, then score = w1·x1 + w2·x2 re-ranked
    per query."""
    lam = repr(float(_LTR_L2))
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
{_QRELS_SQL},
feat AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS x1,
         sum( greatest(ln(1.0 + tf.tf / ({MU} * dft.cf / s.total_tokens))
              + ln({MU} / (dl.doc_len + {MU})), 0.0) ) AS x2
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY 1, 2
),
cand AS (
  SELECT qid, doc_id, x1, x2 FROM (
    SELECT qid, doc_id, x1, x2,
           row_number() OVER (PARTITION BY qid
               ORDER BY x1 DESC, doc_id ASC)::BIGINT AS rank
    FROM feat) WHERE rank <= {TOPK}
),
lab AS (
  SELECT c.x1, c.x2,
         CASE WHEN coalesce(qr.rel, 0.0) >= 1.0 THEN 1.0 ELSE 0.0 END AS y
  FROM cand c LEFT JOIN qrels qr
    ON c.qid = qr.qid AND c.doc_id = qr.docid
),
st AS (
  SELECT count(*)::BIGINT AS n,
         sum(x1 * x1) AS s11, sum(x1 * x2) AS s12, sum(x2 * x2) AS s22,
         sum(x1 * y) AS b1, sum(x2 * y) AS b2, sum(y * y) AS syy
  FROM lab
),
p1 AS (SELECT *, s11 + {lam} AS s11p, s22 + {lam} AS s22p FROM st),
p2 AS (SELECT *, s11p * s22p - s12 * s12 AS det FROM p1),
p3 AS (SELECT (s22p * b1 - s12 * b2) / det AS w1,
              (s11p * b2 - s12 * b1) / det AS w2
       FROM p2),
sc AS (SELECT c.qid, c.doc_id, w.w1 * c.x1 + w.w2 * c.x2 AS s
       FROM cand c CROSS JOIN p3 w)
SELECT qid, doc_id, rank, score FROM (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
             ORDER BY s DESC, doc_id ASC)::BIGINT AS rank,
         round(s, 4) AS score
  FROM sc) WHERE rank <= {TOPK}
"""


def _borda_fuse_sql() -> str:
    """Replays borda_fuse over the bm25 + lmdir top-k runs: each run
    awards TOPK - rank + 1 points, absent docs get nothing,
    all-integer totals."""
    return f"""
WITH {_two_run_ctes()},
pts AS (
  SELECT qid, doc_id, ({TOPK} - rank + 1)::BIGINT AS p
  FROM rb WHERE rank <= {TOPK}
  UNION ALL
  SELECT qid, doc_id, ({TOPK} - rank + 1)::BIGINT AS p
  FROM rl WHERE rank <= {TOPK}
),
a AS (SELECT qid, doc_id, sum(p)::BIGINT AS borda FROM pts GROUP BY 1, 2)
SELECT qid, doc_id, rank, borda FROM (
  SELECT qid, doc_id, borda,
         row_number() OVER (PARTITION BY qid
             ORDER BY borda DESC, doc_id ASC)::BIGINT AS rank
  FROM a) WHERE rank <= {TOPK}
"""


def _condorcet_fuse_sql() -> str:
    """Replays retrieval.condorcet_fuse over the bm25 + lmdir +
    classic top-k runs: absent docs rank TOPK+1 (two absences = that
    system abstains on the pair), a beats b on strict duel-win
    majority, Copeland = wins − losses. All-integer."""
    classic = (
        "sqrt(tf.tf) * (1.0 + ln((s.n_docs + 1.0) / (dft.df + 1.0)))"
        " * (1.0 + ln((s.n_docs + 1.0) / (dft.df + 1.0)))"
        " / sqrt(dl.doc_len)"
    )
    return f"""
WITH {_two_run_ctes()},
sc AS (
  SELECT q.qid, tf.doc_id, sum({classic}) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
rc AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
             ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank
  FROM sc
),
r AS (
  SELECT 'bm25' AS run_id, qid, doc_id, rank FROM rb WHERE rank <= {TOPK}
  UNION ALL
  SELECT 'lmdir', qid, doc_id, rank FROM rl WHERE rank <= {TOPK}
  UNION ALL
  SELECT 'classic', qid, doc_id, rank FROM rc WHERE rank <= {TOPK}
),
c AS (SELECT DISTINCT qid, doc_id FROM r),
g AS (
  SELECT c.qid, ri.run_id, c.doc_id,
         coalesce(r.rank, {TOPK + 1})::BIGINT AS rank
  FROM c CROSS JOIN (SELECT DISTINCT run_id FROM r) ri
  LEFT JOIN r ON r.qid = c.qid AND r.run_id = ri.run_id
             AND r.doc_id = c.doc_id
),
duel AS (
  SELECT a.qid, a.doc_id, b.doc_id AS opp,
         sum(CASE WHEN a.rank < b.rank THEN 1 ELSE 0 END) AS w,
         sum(CASE WHEN a.rank > b.rank THEN 1 ELSE 0 END) AS l
  FROM g a JOIN g b
    ON a.qid = b.qid AND a.run_id = b.run_id AND a.doc_id <> b.doc_id
  GROUP BY 1, 2, 3
),
cop AS (
  SELECT qid, doc_id,
         sum(CASE WHEN w > l THEN 1 WHEN w < l THEN -1
                  ELSE 0 END)::BIGINT AS copeland
  FROM duel GROUP BY 1, 2
)
SELECT qid, doc_id, rank, copeland FROM (
  SELECT qid, doc_id, copeland,
         row_number() OVER (PARTITION BY qid
             ORDER BY copeland DESC, doc_id ASC)::BIGINT AS rank
  FROM cop) WHERE rank <= {TOPK}
"""


def _eval_macro_sql() -> str:
    """Replays macro_metrics_extended over the BM25 run + pseudo
    qrels: MRR / MAP / GMAP(eps) / Success@5."""
    eps = repr(1e-5)
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
run AS (
  SELECT qid, doc_id, rank FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank
    FROM scored) WHERE rank <= {TOPK}
),
{_QRELS_SQL},
joined AS (
  SELECT r.qid, r.rank,
         CASE WHEN coalesce(qr.rel, 0.0) >= 1.0 THEN 1.0 ELSE 0.0 END AS is_rel
  FROM run r LEFT JOIN qrels qr
    ON r.qid = qr.qid AND r.doc_id = CAST(qr.docid AS BIGINT)
),
win AS (
  SELECT *, sum(is_rel) OVER (PARTITION BY qid ORDER BY rank) AS cum_rel
  FROM joined
),
totals AS (SELECT qid, count(*)::BIGINT AS num_rel FROM qrels
           WHERE rel >= 1.0 GROUP BY qid),
perq AS (
  SELECT w.qid,
         min(CASE WHEN w.is_rel > 0 THEN w.rank END) AS frr,
         sum(CASE WHEN w.is_rel > 0 THEN w.cum_rel / w.rank END) AS ap_num,
         max(t.num_rel) AS num_rel
  FROM win w LEFT JOIN totals t USING (qid)
  GROUP BY w.qid
),
m AS (
  SELECT qid,
         CASE WHEN frr IS NOT NULL THEN 1.0 / frr ELSE 0.0 END AS rr,
         CASE WHEN coalesce(num_rel, 0) > 0
              THEN coalesce(ap_num, 0.0) / num_rel ELSE 0.0 END AS ap
  FROM perq
)
SELECT count(*)::BIGINT AS num_queries,
       round(avg(rr), 4) AS mrr,
       round(avg(ap), 4) AS map,
       round(exp(avg(ln(ap + {eps}))), 4) AS gmap,
       round(avg(CASE WHEN rr >= 1.0 / 5 THEN 1.0 ELSE 0.0 END), 4)
         AS success_at_5
FROM m
"""


_RBO_P = 0.9


def _bm25_plus_sql() -> str:
    """Replays Similarity(kind='bm25plus'): delta added after the tf
    saturation, inside the idf product."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * (tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl))
                 + 1.0) ) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank,
         round(s_raw, 4) AS score
  FROM scored
)
SELECT qid, doc_id, rank, score FROM ranked WHERE rank <= {TOPK}
"""


def _rank_rbo_sql() -> str:
    """Replays rank_rbo over the bm25/lmdir top-k runs: per-shared-doc
    weight by max rank, weights emitted as repr() literals from the
    SAME driver-side computation the engine uses."""
    w = ev.rbo_weights(TOPK, _RBO_P)
    cases = " ".join(
        f"WHEN {m} THEN {x!r}" for m, x in enumerate(w, start=1)
    )
    return f"""
WITH {_two_run_ctes()},
a AS (SELECT qid, doc_id, rank FROM rb WHERE rank <= {TOPK}),
b AS (SELECT qid, doc_id, rank FROM rl WHERE rank <= {TOPK}),
shared AS (
  SELECT a.qid,
         CASE greatest(a.rank, b.rank) {cases} END AS w
  FROM a JOIN b USING (qid, doc_id)
),
qids AS (SELECT DISTINCT a.qid FROM a JOIN b USING (qid))
SELECT q.qid, round(coalesce(s.rbo, 0.0), 4) AS rbo
FROM qids q LEFT JOIN (SELECT qid, sum(w) AS rbo FROM shared GROUP BY 1) s
  USING (qid)
"""


def _interleave_sql(k: int = None, seed: int = 0) -> str:
    """Replays interleave_team_draft (the former second rows-only
    gate) by unrolling the k-round draft as a CTE chain generated from
    one constant — the bpe_merges/xquad pattern applied to per-query
    sequential state carried in DuckDB LISTS: per qid, the two runs
    collapse to rank-ordered doc lists, then each of the 2k pick steps
    is one CTE pair (compute `nxt` = first not-yet-picked doc of the
    drafting side, then fold it into the picked list and the output
    struct list). The coin replays functions/hashing.py mix exactly
    (all intermediates < 2^63); exhausted lists make `nxt` NULL so the
    python loop's `progressed` break is a no-op continuation here."""
    from luc4ir_spark.functions.hashing import MIX_A, MIX_B, MIX_P

    if k is None:
        k = TOPK
    parts = [
        "ila AS (SELECT qid, list(doc_id ORDER BY rank) AS la "
        f"FROM rb WHERE rank <= {k} GROUP BY 1)",
        "ilb AS (SELECT qid, list(doc_id ORDER BY rank) AS lb "
        f"FROM rl WHERE rank <= {k} GROUP BY 1)",
        """is0 AS (
  SELECT qid,
    CAST(CASE WHEN regexp_replace(qid, '[^0-9]', '', 'g') = '' THEN '0'
         ELSE regexp_replace(qid, '[^0-9]', '', 'g') END AS BIGINT) AS qn,
    la, lb,
    CAST([] AS BIGINT[]) AS picked,
    CAST([] AS STRUCT(pos BIGINT, doc BIGINT, team VARCHAR)[]) AS out
  FROM ila JOIN ilb USING (qid))""",
    ]
    step = 0
    for rnd in range(k):
        coin = (
            f"(({MIX_A} * ((qn * 1048576 + {rnd} + {seed}) % {MIX_P}) "
            f"+ {MIX_B}) % {MIX_P}) & 1"
        )
        for phase in range(2):
            first, second = ("a", "b") if phase == 0 else ("b", "a")
            lfirst, lsecond = ("la", "lb") if phase == 0 else ("lb", "la")
            parts.append(
                f"""ip{step} AS (
  SELECT qid, qn, la, lb, picked, out,
    CASE WHEN ({coin}) = 0 THEN '{first}' ELSE '{second}' END AS team,
    CASE WHEN len(out) >= {k} THEN NULL
         ELSE list_filter(
                CASE WHEN ({coin}) = 0 THEN {lfirst} ELSE {lsecond} END,
                d -> NOT list_contains(picked, d))[1]
    END AS nxt
  FROM is{step})"""
            )
            parts.append(
                f"""is{step + 1} AS (
  SELECT qid, qn, la, lb,
    CASE WHEN nxt IS NULL THEN picked ELSE picked || [nxt] END AS picked,
    CASE WHEN nxt IS NULL THEN out
         ELSE out || [struct_pack(pos := len(out) + 1, doc := nxt,
                                  team := team)] END AS out
  FROM ip{step})"""
            )
            step += 1
    parts.append(f"ifin AS (SELECT qid, unnest(out) AS u FROM is{step})")
    return (
        f"WITH {_two_run_ctes()},\n"
        + ",\n".join(parts)
        + "\nSELECT qid, u.pos AS pos, u.doc AS doc_id, u.team AS team"
        " FROM ifin"
    )


def _interleave_credit_sql() -> str:
    """Replays interleave_credit: the interleaved list (the full
    _interleave_sql replay as a nested CTE), a deterministic mix-hash
    click log derived from it, one (qid, doc_id) join + per-team
    conditional counts, and the per-query winner call."""
    from luc4ir_spark.functions.hashing import MIX_A, MIX_B, MIX_P

    return f"""
WITH inter AS ({_interleave_sql()}),
clicks AS (
  SELECT qid, doc_id FROM inter
  WHERE (({MIX_A} * ((doc_id * 1048576 + pos) % {MIX_P}) + {MIX_B})
         % {MIX_P}) % 3 = 0
),
hits AS (
  SELECT i.qid,
         sum(CASE WHEN i.team = 'a' THEN 1 ELSE 0 END)::BIGINT AS clicks_a,
         sum(CASE WHEN i.team = 'b' THEN 1 ELSE 0 END)::BIGINT AS clicks_b
  FROM inter i JOIN clicks c ON i.qid = c.qid AND i.doc_id = c.doc_id
  GROUP BY 1
),
base AS (SELECT DISTINCT qid FROM inter)
SELECT b.qid,
       coalesce(h.clicks_a, 0)::BIGINT AS clicks_a,
       coalesce(h.clicks_b, 0)::BIGINT AS clicks_b,
       CASE WHEN coalesce(h.clicks_a, 0) > coalesce(h.clicks_b, 0) THEN 'a'
            WHEN coalesce(h.clicks_b, 0) > coalesce(h.clicks_a, 0) THEN 'b'
            ELSE 'tie' END AS winner
FROM base b LEFT JOIN hits h USING (qid)
"""


def _ips_eval_sql() -> str:
    """Replays ips_utility: clicks = mix-hash-selected rows of the
    bm25 run (rb), gamma = 1/pos, new ranking = the lmdir run (rl);
    per click λ(rank_new)/γ_pos with λ = 1/log2(rank+1) spelled
    ln/ln 2, unretrieved clicked docs contributing 0."""
    from luc4ir_spark.functions.hashing import MIX_A, MIX_B, MIX_P

    return f"""
WITH {_two_run_ctes()},
clicks AS (
  SELECT qid, doc_id, rank AS pos FROM rb
  WHERE rank <= {TOPK}
    AND (({MIX_A} * ((doc_id * 1048576 + rank) % {MIX_P}) + {MIX_B})
         % {MIX_P}) % 3 = 0
),
j AS (
  SELECT c.qid, c.doc_id, c.pos, r.rank
  FROM clicks c LEFT JOIN (SELECT * FROM rl WHERE rank <= {TOPK}) r
    ON c.qid = r.qid AND c.doc_id = r.doc_id
)
SELECT qid,
       count(*)::BIGINT AS n_clicks,
       round(sum(CASE WHEN rank IS NOT NULL
                 THEN (1.0 / (ln(rank + 1.0) / ln(2.0))) / (1.0 / pos)
                 ELSE 0.0 END), 4) AS ips_utility,
       round(sum(CASE WHEN rank IS NOT NULL
                 THEN (1.0 / (ln(rank + 1.0) / ln(2.0))) / (1.0 / pos)
                 ELSE 0.0 END)
             / sum(1.0 / (1.0 / pos)), 4) AS snips_utility
FROM j GROUP BY qid
"""


def _interleave_sign_sql() -> str:
    """Replays sign_test over the interleave_credit replay: tally
    a/b/tie winners, then the doubled-tail exact binomial
    p = min(1, 2·P(X <= min(n_a, n_b))) with C(m, j) as a quotient of
    integer-valued double products (dyadic-exact at these sizes; j = 0
    guarded because an empty list_product is NULL in DuckDB)."""
    comb = (
        "CASE WHEN j = 0 THEN 1.0 ELSE "
        "list_product(list_transform(range(1, j + 1),"
        " i -> 1.0 * (n_a + n_b - j + i))) / "
        "list_product(list_transform(range(1, j + 1), i -> 1.0 * i)) END"
    )
    return f"""
WITH credit AS ({_interleave_credit_sql()}),
tallies AS (
  SELECT count(*)::BIGINT AS n_queries,
         sum(CASE WHEN winner = 'a' THEN 1 ELSE 0 END)::BIGINT AS n_a,
         sum(CASE WHEN winner = 'b' THEN 1 ELSE 0 END)::BIGINT AS n_b,
         sum(CASE WHEN winner NOT IN ('a', 'b') THEN 1 ELSE 0 END)::BIGINT
           AS n_tie
  FROM credit
)
SELECT n_queries, n_a, n_b, n_tie,
       round(CASE WHEN n_a + n_b = 0 THEN 1.0 ELSE least(1.0,
         2.0 * list_sum(list_transform(range(0, least(n_a, n_b) + 1),
           j -> ({comb}) / pow(2.0, n_a + n_b)))) END, 4) AS p_value
FROM tallies
"""


def _dismax_sql() -> str:
    """Replays dismax_topk: per-(qid, doc, term) BM25 contributions,
    combined as max + tie * (sum - max)."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
c AS (
  SELECT q.qid, tf.doc_id,
         ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
           * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) AS c
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
),
d AS (
  SELECT qid, doc_id,
         max(c) + {_DISMAX_TIE} * (sum(c) - max(c)) AS s_raw
  FROM c GROUP BY 1, 2
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank,
         round(s_raw, 4) AS score
  FROM d
)
SELECT qid, doc_id, rank, score FROM ranked WHERE rank <= {TOPK}
"""


def _wildcard_sql() -> str:
    """Replays wildcard_expand_terms + score_queries: anchored-regex
    dictionary expansion (weight = matching-pattern count), then the
    plain BM25 OR sum."""
    vals = ", ".join(
        f"('{qid}', '{rt.wildcard_to_regex(pat)}')"
        for qid, pat in _WILDCARD_SET
    )
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS},
w(qid, rx) AS (VALUES {vals}),
q AS (
  SELECT w.qid, dft.term, count(*)::DOUBLE AS weight
  FROM dft JOIN w ON regexp_matches(dft.term, w.rx)
  GROUP BY 1, 2
),
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( q.weight * ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank,
         round(s_raw, 4) AS score
  FROM scored
)
SELECT qid, doc_id, rank, score FROM ranked WHERE rank <= {TOPK}
"""


def _term_range_sql() -> str:
    """Replays term_range_query: constant-score docs holding >= 1
    dictionary term in the inclusive lexical range."""
    return f"""
WITH {_TOKS}, {_TF}
SELECT doc_id, count(*)::BIGINT AS n_matched, 1.0 AS score
FROM tf
WHERE term >= '{_RANGE_LO}' AND term <= '{_RANGE_HI}'
GROUP BY doc_id
"""


def _two_run_ctes() -> str:
    """Shared CTE block: BM25 and LM-Dirichlet runs ranked to TOPK —
    the two systems the pooling / rank-correlation gates compare."""
    return f"""
{_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
sb AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
rb AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank
  FROM sb
),
sl AS (
  SELECT q.qid, tf.doc_id,
         sum( greatest(ln(1.0 + tf.tf / ({MU} * dft.cf / s.total_tokens))
              + ln({MU} / (dl.doc_len + {MU})), 0.0) ) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
rl AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank
  FROM sl
)"""


def _percolate_scored_sql() -> str:
    """Replays retrieval.percolate_scored: all-MUST over the RAW
    registered term set + per-doc BM25 query ranking, top-2."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
nq AS (SELECT qid, count(DISTINCT term)::BIGINT AS nt FROM q GROUP BY 1),
m AS (SELECT tf.doc_id, q.qid, count(DISTINCT q.term)::BIGINT AS nm
      FROM q JOIN tf USING (term) GROUP BY 1, 2),
ok AS (SELECT m.doc_id, m.qid
       FROM m JOIN nq USING (qid) WHERE m.nm = nq.nt),
r AS (
  SELECT ok.doc_id, ok.qid, s.s_raw,
         row_number() OVER (PARTITION BY ok.doc_id
                            ORDER BY s.s_raw DESC, ok.qid ASC)::BIGINT
           AS rank
  FROM ok JOIN scored s
    ON s.qid = ok.qid AND s.doc_id = ok.doc_id
)
SELECT doc_id, qid, rank, round(s_raw, 4) AS score
FROM r WHERE rank <= 2
"""


def _search_length_sql() -> str:
    """Replays evaluation.expected_search_length over the BM25 run +
    pseudo qrels: cumulative relevant counter, min rank per (qid, j),
    literal j spine, esl = rank − j."""
    return f"""
WITH {_ap_pair_prefix()},
rr AS (
  SELECT r.qid, r.rank,
         CASE WHEN coalesce(qr.rel, 0.0) >= 1.0
              THEN 1 ELSE 0 END AS isrel
  FROM run_a r LEFT JOIN qrels qr
    ON r.qid = qr.qid AND r.doc_id = qr.docid
),
cum AS (
  SELECT qid, rank, isrel,
         sum(isrel) OVER (PARTITION BY qid ORDER BY rank
                          ROWS UNBOUNDED PRECEDING) AS c
  FROM rr
),
firsts AS (
  SELECT qid, c AS j, min(rank)::BIGINT AS rank_of_jth
  FROM cum WHERE isrel = 1 AND c <= 2 GROUP BY 1, 2
),
spine AS (
  SELECT DISTINCT q.qid, t.j::BIGINT AS j
  FROM q CROSS JOIN (VALUES (1), (2)) t(j)
)
SELECT s.qid, s.j, f.rank_of_jth,
       (f.rank_of_jth - s.j)::BIGINT AS esl
FROM spine s LEFT JOIN firsts f USING (qid, j)
"""


def _pool_depth_sql() -> str:
    """Replays evaluation.pool_depth_curve over the bm25+lmdir union
    pool (min rank across runs) and the pseudo qrels."""
    return f"""
WITH {_two_run_ctes()},
{_QRELS_SQL},
u AS (
  SELECT qid, doc_id, rank FROM rb WHERE rank <= {TOPK}
  UNION ALL
  SELECT qid, doc_id, rank FROM rl WHERE rank <= {TOPK}
),
pooled AS (SELECT qid, doc_id, min(rank) AS r FROM u GROUP BY 1, 2),
fl AS (
  SELECT p.qid, p.r,
         CASE WHEN qr.docid IS NOT NULL THEN 1 ELSE 0 END AS j
  FROM pooled p LEFT JOIN (SELECT DISTINCT qid, docid FROM qrels) qr
    ON qr.qid = p.qid AND qr.docid = p.doc_id
),
depths AS (SELECT unnest(range(1, {TOPK} + 1))::BIGINT AS depth)
SELECT fl.qid, d.depth, count(*)::BIGINT AS n_pool,
       sum(fl.j)::BIGINT AS n_judged,
       round(sum(fl.j) / count(*), 4) AS judged_frac
FROM fl JOIN depths d ON fl.r <= d.depth
GROUP BY 1, 2
"""


def _run_diff_sql() -> str:
    """Replays evaluation.run_diff over the bm25 vs lmdir runs at
    TOPK: full-outer (qid, doc) join, integer set counts, one-division
    mean |rank shift|."""
    return f"""
WITH {_two_run_ctes()},
a AS (SELECT qid, doc_id, rank AS ra FROM rb WHERE rank <= {TOPK}),
b AS (SELECT qid, doc_id, rank AS rbk FROM rl WHERE rank <= {TOPK}),
j AS (
  SELECT qid, a.ra, b.rbk
  FROM a FULL OUTER JOIN b USING (qid, doc_id)
),
per AS (
  SELECT qid,
         sum(CASE WHEN ra IS NOT NULL AND rbk IS NOT NULL
                  THEN 1 ELSE 0 END)::BIGINT AS n_common,
         sum(CASE WHEN rbk IS NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_only_a,
         sum(CASE WHEN ra IS NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_only_b,
         sum(CASE WHEN ra IS NOT NULL AND rbk IS NOT NULL
                  THEN abs(ra - rbk) ELSE 0 END)::BIGINT AS shift
  FROM j GROUP BY 1
)
SELECT qid, n_common, n_only_a, n_only_b,
       CASE WHEN n_common > 0
            THEN round(shift / n_common, 4) END AS avg_rank_shift
FROM per
"""


def _join_scores_sql() -> str:
    """Replays retrieval.join_query_scores (ScoreMode.Max) over the
    source field: per-(qid, source) max of the raw BM25 scores,
    broadcast expansion to every doc of the source, top-10."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
meta AS (SELECT doc_id, source FROM documents),
keys AS (
  SELECT sc.qid, m.source, max(sc.s_raw) AS sv
  FROM scored sc JOIN meta m USING (doc_id) GROUP BY 1, 2
),
expd AS (
  SELECT k.qid, m.doc_id, k.sv
  FROM meta m JOIN keys k ON m.source = k.source
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY sv DESC, doc_id ASC)::BIGINT
           AS rank,
         round(sv, 4) AS score
  FROM expd
)
SELECT qid, doc_id, rank, score FROM ranked WHERE rank <= {TOPK}
"""


def _pooling_sql() -> str:
    """Replays pool_runs over the bm25 + lmdir runs at _POOL_DEPTH."""
    return f"""
WITH {_two_run_ctes()},
pool AS (
  SELECT qid, doc_id, rank FROM rb WHERE rank <= {_POOL_DEPTH}
  UNION ALL
  SELECT qid, doc_id, rank FROM rl WHERE rank <= {_POOL_DEPTH}
)
SELECT qid, doc_id, count(*)::BIGINT AS n_runs, min(rank)::BIGINT AS best_rank
FROM pool GROUP BY 1, 2
"""


def _rank_corr_sql() -> str:
    """Replays rank_correlation: per-qid Kendall tau over the docs both
    TOPK runs share (ranks distinct => exact rational)."""
    return f"""
WITH {_two_run_ctes()},
shared AS (
  SELECT rb.qid, rb.doc_id, rb.rank AS ra, rl.rank AS rc
  FROM (SELECT * FROM rb WHERE rank <= {TOPK}) rb
  JOIN (SELECT * FROM rl WHERE rank <= {TOPK}) rl USING (qid, doc_id)
),
pairs AS (
  SELECT l.qid, sign(l.ra - r.ra) * sign(l.rc - r.rc) AS s
  FROM shared l JOIN shared r
    ON l.qid = r.qid AND l.doc_id < r.doc_id
),
n AS (SELECT qid, count(*)::BIGINT AS n_common FROM shared GROUP BY 1)
SELECT p.qid, n.n_common,
       round(sum(p.s) / (n.n_common * (n.n_common - 1) / 2.0), 4) AS tau
FROM pairs p JOIN n USING (qid)
WHERE n.n_common >= 2
GROUP BY p.qid, n.n_common
"""


def _spearman_sql() -> str:
    """Replays spearman_rho: per-qid Spearman over the shared TOPK
    docs, ranks densified 1..n per run (distinct originals — no ties),
    Σd² and n(n²-1) exact BIGINTs, ONE division + one subtraction."""
    return f"""
WITH {_two_run_ctes()},
shared AS (
  SELECT rb.qid, rb.doc_id, rb.rank AS ra0, rl.rank AS rb0
  FROM (SELECT * FROM rb WHERE rank <= {TOPK}) rb
  JOIN (SELECT * FROM rl WHERE rank <= {TOPK}) rl USING (qid, doc_id)
),
dens AS (
  SELECT qid,
         row_number() OVER (PARTITION BY qid ORDER BY ra0)::BIGINT AS ra,
         row_number() OVER (PARTITION BY qid ORDER BY rb0)::BIGINT AS rk
  FROM shared
)
SELECT qid, count(*)::BIGINT AS n_common,
       round(1.0 - (6.0 * sum((ra - rk) * (ra - rk)))
             / (count(*) * (count(*) * count(*) - 1))::DOUBLE,
             4) AS rho
FROM dens GROUP BY qid HAVING count(*) >= 2
"""


def _spatial_sql() -> str:
    """Replays spatial.grid_radius_join NAIVELY (cross join + exact
    integer dist2 filter — semantics identical to the grid prune, which
    is only a candidate superset): mix-derived integer ticks, squared
    euclidean, distance-sorted rank."""
    from luc4ir_spark.functions import hashing as hx

    def mx(key: str) -> str:
        return (
            f"(({hx.MIX_A} * (({key}) % {hx.MIX_P}) + {hx.MIX_B})"
            f" % {hx.MIX_P})"
        )

    vals = ", ".join(
        f"('{q}', {x}, {y})" for q, x, y in _SPATIAL_QUERIES
    )
    return f"""
WITH pts AS (
  SELECT doc_id,
         {mx('doc_id')} % {_SPATIAL_GRID} AS x,
         {mx(f'doc_id + {_SPATIAL_SALT}')} % {_SPATIAL_GRID} AS y
  FROM documents
),
q(qid, qx, qy) AS (VALUES {vals}),
cand AS (
  SELECT q.qid, p.doc_id,
         ((p.x - q.qx) * (p.x - q.qx)
          + (p.y - q.qy) * (p.y - q.qy))::BIGINT AS dist2
  FROM pts p CROSS JOIN q
  WHERE (p.x - q.qx) * (p.x - q.qx) + (p.y - q.qy) * (p.y - q.qy)
        <= {_SPATIAL_RADIUS * _SPATIAL_RADIUS}
)
SELECT qid, doc_id, dist2,
       (row_number() OVER (PARTITION BY qid ORDER BY dist2, doc_id)
       )::BIGINT AS rank
FROM cand
"""


def _spatial_bbox_sql() -> str:
    """Replays bbox_filter over the same mix-derived ticks: inclusive
    integer box, pure filter."""
    from luc4ir_spark.functions import hashing as hx

    def mx(key):
        return (f"(({hx.MIX_A} * (({key}) % {hx.MIX_P}) + {hx.MIX_B})"
                f" % {hx.MIX_P})")

    return f"""
WITH pts AS (
  SELECT doc_id,
         {mx('doc_id')} % {_SPATIAL_GRID} AS x,
         {mx(f'doc_id + {_SPATIAL_SALT}')} % {_SPATIAL_GRID} AS y
  FROM documents
)
SELECT doc_id, x::BIGINT AS x, y::BIGINT AS y
FROM pts
WHERE x BETWEEN 100 AND 220 AND y BETWEEN 40 AND 160
"""


def _tau_ap_sql() -> str:
    """Replays evaluation.tau_ap (Yilmaz et al. SIGIR'08) over the
    bm25 (reference) and lmdir (observed) runs: densified ranks within
    the shared set, per-pair concordance scaled by L DIV (rb-1) so the
    inner sum is an exact BIGINT (L = lcm(1..31), matching the
    operator's max_k=32 default), then ONE double division."""
    scale = math.lcm(*range(1, 32))
    return f"""
WITH {_two_run_ctes()},
shared AS (
  SELECT b.qid, b.doc_id, b.rank AS ra0, l.rank AS rb0
  FROM (SELECT * FROM rb WHERE rank <= {TOPK}) b
  JOIN (SELECT * FROM rl WHERE rank <= {TOPK}) l USING (qid, doc_id)
),
d AS MATERIALIZED (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY ra0) AS ra,
         rb
  FROM (
    SELECT qid, doc_id, ra0,
           row_number() OVER (PARTITION BY qid ORDER BY rb0) AS rb
    FROM shared
  ) WHERE rb <= 32
),
pairs AS (
  SELECT r.qid,
         (CASE WHEN l.ra < r.ra THEN 1 ELSE 0 END)
         * ({scale} // (r.rb - 1)) AS s
  FROM d l JOIN d r ON l.qid = r.qid AND l.rb < r.rb
),
n AS (SELECT qid, count(*)::BIGINT AS n_common FROM d GROUP BY 1)
SELECT p.qid, n.n_common,
       round(2.0 * sum(p.s) / ({float(scale)!r} * (n.n_common - 1))
             - 1.0, 4) AS tau_ap
FROM pairs p JOIN n USING (qid)
WHERE n.n_common >= 2
GROUP BY p.qid, n.n_common
"""


_TOKEN_STATS_SQL = r"""
WITH t AS (
  SELECT lang,
         len(list_filter(regexp_split_to_array(lower(text),
             '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS n_tok,
         strlen(text)::BIGINT AS n_b
  FROM documents
),
a AS (SELECT lang, count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens,
             sum(n_b)::BIGINT AS n_bytes
      FROM t GROUP BY 1)
SELECT lang, n_docs, n_tokens, n_bytes,
       round(n_tokens * 1.0 / n_docs, 4) AS tokens_per_doc,
       round(n_bytes * 1.0 / n_tokens, 4) AS bytes_per_token
FROM a
"""


def _normalize_text_sql() -> str:
    """Replays textstats.normalize_for_dedup over the augmented text:
    the same lower -> translate -> digit -> punct -> squeeze chain
    (DuckDB regexp_replace needs the 'g' flag)."""
    from luc4ir_spark.operators.textstats import ACCENT_FROM, ACCENT_TO

    return rf"""
WITH d AS (
  SELECT doc_id,
         text || ' Café No. ' || doc_id::VARCHAR || '!!' AS content
  FROM documents
),
n AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(regexp_replace(
             translate(lower(content), '{ACCENT_FROM}', '{ACCENT_TO}'),
             '[0-9]', '0', 'g'),
             '[^a-z0-9\s]', '', 'g'),
             '\s+', ' ', 'g')) AS norm_text
  FROM d
)
SELECT doc_id, norm_text, md5(norm_text) AS norm_digest FROM n
"""


_SUGGEST_CTX = ["the", "spark", "data"]

# word_break gate: run-ons of sf vocab words + one in-vocab + one junk
_WB_TERMS = ["sparkjoin", "tablescan", "batchbatch", "spark", "zzqq"]


def _word_break_sql() -> str:
    """Replays word_break_suggest: OOV filter, interior split points
    via a lateral range unnest, both halves dictionary-joined,
    (df_sum DESC, p ASC) top-3."""
    vals = ", ".join(f"('{w}')" for w in _WB_TERMS)
    return f"""
WITH {_TOKS}, {_TF}, {_DFT},
wt(term) AS (VALUES {vals}),
oov AS (SELECT term FROM wt
        WHERE term NOT IN (SELECT term FROM dft)),
cand AS (
  SELECT term, i AS p, substr(term, 1, i::INT) AS lft,
         substr(term, (i + 1)::INT) AS rgt
  FROM oov, unnest(range(1, length(term))) AS r(i)
),
j AS (
  SELECT c.term, c.p, c.lft, c.rgt,
         (d1.df + d2.df)::BIGINT AS df_sum
  FROM cand c
  JOIN dft d1 ON d1.term = c.lft
  JOIN dft d2 ON d2.term = c.rgt
)
SELECT term, lft AS left, rgt AS right, df_sum, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY term
             ORDER BY df_sum DESC, p ASC)::BIGINT AS rank
  FROM j) WHERE rank <= 3
"""


def _suggest_next_sql() -> str:
    """Replays textstats.suggest_next_words: corpus bigram counts
    (same CTE shape as the bigram-LM oracle), context VALUES join,
    per-context top-3 by (c DESC, w2 ASC)."""
    vals = ", ".join(f"('{w}')" for w in _SUGGEST_CTX)
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
         '[^a-z0-9]+'), x -> x <> '') AS tk
  FROM documents
),
bg AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2
  FROM t, unnest(range(1, len(tk))) AS r(i)
),
c AS (SELECT w1, w2, count(*)::BIGINT AS c FROM bg GROUP BY 1, 2),
ctx(w1) AS (VALUES {vals}),
rk AS (
  SELECT c.w1, c.w2, c.c,
         row_number() OVER (PARTITION BY c.w1
                            ORDER BY c.c DESC, c.w2 ASC)::BIGINT AS rank
  FROM c JOIN ctx USING (w1)
)
SELECT w1, w2, c, rank FROM rk WHERE rank <= 3
"""


_TRI_L3, _TRI_L2 = 0.6, 0.3


def _trigram_xent_sql() -> str:
    """Replays trigram_cross_entropy: Jelinek-Mercer three-way
    interpolation with the weights (and the computed 1-l3-l2) emitted
    via repr so both engines share the exact doubles."""
    l3 = repr(float(_TRI_L3))
    l2 = repr(float(_TRI_L2))
    l1 = repr(1.0 - float(_TRI_L3) - float(_TRI_L2))
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
         '[^a-z0-9]+'), x -> x <> '') AS tk
  FROM documents
),
u AS (SELECT doc_id, unnest(tk) AS w FROM t),
c1 AS (SELECT w, count(*)::DOUBLE AS c FROM u GROUP BY 1),
tot AS (SELECT count(*)::DOUBLE AS n FROM u),
bg AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2, count(*)::DOUBLE AS c12
  FROM t, unnest(range(1, len(tk))) AS r(i)
  GROUP BY 1, 2
),
tg AS (
  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3
  FROM t, unnest(range(1, len(tk) - 1)) AS r(i)
),
tt AS (SELECT doc_id, w1, w2, w3, count(*)::DOUBLE AS tf
       FROM tg GROUP BY 1, 2, 3, 4),
c3 AS (SELECT w1, w2, w3, sum(tf) AS c123 FROM tt GROUP BY 1, 2, 3)
SELECT tt.doc_id,
       round(-sum(tt.tf * ln({l3} * c3.c123 / b12.c12
                             + {l2} * b23.c12 / a2.c
                             + {l1} * a3.c / tot.n))
             / sum(tt.tf), 4) AS xent_trigram
FROM tt
JOIN c3 USING (w1, w2, w3)
JOIN bg b12 ON b12.w1 = tt.w1 AND b12.w2 = tt.w2
JOIN bg b23 ON b23.w1 = tt.w2 AND b23.w2 = tt.w3
JOIN c1 a2 ON tt.w2 = a2.w
JOIN c1 a3 ON tt.w3 = a3.w
CROSS JOIN tot
GROUP BY tt.doc_id
"""


_SB_ALPHA = 0.4


_GOOD_TURING_SQL = """
WITH t AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text),
         '[^a-z0-9]+'), x -> x <> '')) AS w
  FROM documents
),
tc AS (SELECT w, count(*)::BIGINT AS r FROM t GROUP BY 1),
nr AS (SELECT r, count(*)::BIGINT AS n_r FROM tc GROUP BY 1),
tot AS (SELECT sum(r)::BIGINT AS t,
               coalesce(sum(CASE WHEN r = 1 THEN 1 END), 0)::BIGINT AS n1
        FROM tc),
nxt AS (SELECT r - 1 AS r, n_r AS n_next FROM nr)
SELECT nr.r, nr.n_r,
       round(coalesce((nr.r + 1) * nxt.n_next / nr.n_r, 0.0), 4)
         AS r_star,
       round(tot.n1 * 1.0 / tot.t, 4) AS p0
FROM nr LEFT JOIN nxt USING (r) CROSS JOIN tot
"""


_KN_D = 0.75


def _kneser_ney_sql() -> str:
    """Replays kneser_ney_xent: the shared bigram-type table feeds
    c2, c(w1), N1+(w1,*), N1+(*,w2) and the type total; discount
    emitted via repr; probability shape mirrored term-for-term."""
    d = repr(float(_KN_D))
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
         '[^a-z0-9]+'), x -> x <> '') AS tk
  FROM documents
),
bg AS (
  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
  FROM t, unnest(range(1, len(tk))) AS r(i)
),
bt AS (SELECT doc_id, w1, w2, count(*)::DOUBLE AS tf
       FROM bg GROUP BY 1, 2, 3),
c2 AS MATERIALIZED (SELECT w1, w2, sum(tf) AS c2 FROM bt GROUP BY 1, 2),
c1 AS (SELECT w1, sum(c2) AS c_w1, count(*)::DOUBLE AS n1p_w1
       FROM c2 GROUP BY 1),
cont AS (SELECT w2, count(*)::DOUBLE AS n1p_w2 FROM c2 GROUP BY 1),
nt AS (SELECT count(*)::DOUBLE AS n_types FROM c2)
SELECT bt.doc_id, sum(bt.tf)::BIGINT AS n_bigrams,
       round(-sum(bt.tf * ln(
           (c2.c2 - {d}) / c1.c_w1
           + ({d} * c1.n1p_w1 / c1.c_w1) * (cont.n1p_w2 / nt.n_types)
       )) / sum(bt.tf), 4) AS xent_kn
FROM bt
JOIN c2 USING (w1, w2)
JOIN c1 USING (w1)
JOIN cont USING (w2)
CROSS JOIN nt
GROUP BY bt.doc_id
"""


_WITTEN_BELL_SQL = """
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
         '[^a-z0-9]+'), x -> x <> '') AS tk
  FROM documents
),
u AS (SELECT unnest(tk) AS w2 FROM t),
cu AS (SELECT w2, count(*)::DOUBLE AS c_u FROM u GROUP BY 1),
tot AS (SELECT count(*)::DOUBLE AS n FROM u),
bg AS (
  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
  FROM t, unnest(range(1, len(tk))) AS r(i)
),
bt AS (SELECT doc_id, w1, w2, count(*)::DOUBLE AS tf
       FROM bg GROUP BY 1, 2, 3),
c2 AS MATERIALIZED (SELECT w1, w2, sum(tf) AS c2 FROM bt GROUP BY 1, 2),
c1 AS (SELECT w1, sum(c2) AS c_w1, count(*)::DOUBLE AS n1p_w1
       FROM c2 GROUP BY 1)
SELECT bt.doc_id, sum(bt.tf)::BIGINT AS n_bigrams,
       round(-sum(bt.tf * ln(
           (c1.c_w1 / (c1.c_w1 + c1.n1p_w1)) * (c2.c2 / c1.c_w1)
           + (1.0 - c1.c_w1 / (c1.c_w1 + c1.n1p_w1))
             * (cu.c_u / tot.n)
       )) / sum(bt.tf), 4) AS xent_wb
FROM bt
JOIN c2 USING (w1, w2)
JOIN c1 USING (w1)
JOIN cu USING (w2)
CROSS JOIN tot
GROUP BY bt.doc_id
"""


def _stupid_backoff_sql() -> str:
    """Replays stupid_backoff_xent against the src1 in-domain LM:
    alpha and alpha^2 emitted via repr (the python product, e.g.
    0.16000000000000003, NOT a rounded literal)."""
    a, a2 = repr(float(_SB_ALPHA)), repr(float(_SB_ALPHA) ** 2)
    return f"""
WITH t AS (
  SELECT doc_id, source, list_filter(regexp_split_to_array(lower(text),
         '[^a-z0-9]+'), x -> x <> '') AS tk
  FROM documents
),
lm AS (SELECT * FROM t WHERE source = '{_DSIR_TARGET}'),
u AS (SELECT unnest(tk) AS w FROM lm),
c1 AS (SELECT w, count(*)::DOUBLE AS c FROM u GROUP BY 1),
tot AS (SELECT count(*)::DOUBLE AS n FROM u),
lbg AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2
  FROM lm, unnest(range(1, len(tk))) AS r(i)
),
c2 AS (SELECT w1, w2, count(*)::DOUBLE AS c2 FROM lbg GROUP BY 1, 2),
bg AS (
  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
  FROM t, unnest(range(1, len(tk))) AS r(i)
),
bt AS (SELECT doc_id, w1, w2, count(*)::DOUBLE AS tf
       FROM bg GROUP BY 1, 2, 3),
j AS (
  SELECT bt.doc_id, bt.tf,
         CASE WHEN c2.c2 IS NOT NULL THEN c2.c2 / a1.c
              WHEN b1.c IS NOT NULL THEN {a} * b1.c / tot.n
              ELSE {a2} / tot.n END AS s
  FROM bt
  LEFT JOIN c2 ON bt.w1 = c2.w1 AND bt.w2 = c2.w2
  LEFT JOIN c1 a1 ON bt.w1 = a1.w
  LEFT JOIN c1 b1 ON bt.w2 = b1.w
  CROSS JOIN tot
)
SELECT doc_id, sum(tf)::BIGINT AS n_bigrams,
       round(-sum(tf * ln(s)) / sum(tf), 4) AS xent_sb
FROM j GROUP BY 1
"""


def _bigram_xent_sql() -> str:
    """Replays bigram_cross_entropy; the interpolation weights are
    emitted via repr() so (1 - lam) is the SAME double on both engines."""
    lam, oml = repr(float(_BIGRAM_LAM)), repr(1.0 - float(_BIGRAM_LAM))
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
         '[^a-z0-9]+'), x -> x <> '') AS tk
  FROM documents
),
u AS (SELECT doc_id, unnest(tk) AS w FROM t),
c1 AS (SELECT w, count(*)::DOUBLE AS c FROM u GROUP BY 1),
tot AS (SELECT count(*)::DOUBLE AS n FROM u),
bg AS (
  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
  FROM t, unnest(range(1, len(tk))) AS r(i)
),
bt AS (SELECT doc_id, w1, w2, count(*)::DOUBLE AS tf FROM bg GROUP BY 1, 2, 3),
c2 AS (SELECT w1, w2, sum(tf) AS c FROM bt GROUP BY 1, 2)
SELECT bt.doc_id,
       round(-sum(bt.tf * ln({lam} * c2.c / a.c + {oml} * b.c / tot.n))
             / sum(bt.tf), 4) AS xent_bigram
FROM bt
JOIN c2 USING (w1, w2)
JOIN c1 a ON bt.w1 = a.w
JOIN c1 b ON bt.w2 = b.w
CROSS JOIN tot
GROUP BY bt.doc_id
"""


def _token_budget_sql() -> str:
    """Replays sample_token_budget: mix-ordered per-source prefix whose
    running token total fits the budget — all-integer."""
    from luc4ir_spark.functions import hashing as hx

    mkey = f"(({hx.MIX_A} * (doc_id % {hx.MIX_P}) + {hx.MIX_B}) % {hx.MIX_P})"
    return f"""
WITH t AS (
  SELECT doc_id, source AS stratum,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> ''))::BIGINT AS n_tokens,
         {mkey} AS mkey
  FROM documents
),
o AS (
  SELECT doc_id, stratum, n_tokens,
         sum(n_tokens) OVER (PARTITION BY stratum ORDER BY mkey, doc_id
           ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
  FROM t
)
SELECT doc_id, stratum, n_tokens, cum_tokens
FROM o WHERE cum_tokens <= {_TOKEN_BUDGET}
"""


def _pack_sequences_sql() -> str:
    """Replays textstats.pack_sequences: the portable mix hash is the
    shuffle key + shard, a per-shard running token sum is the offset,
    integer division by seq_len gives the sequence span."""
    from luc4ir_spark.functions import hashing as hx

    mkey = f"(({hx.MIX_A} * (doc_id % {hx.MIX_P}) + {hx.MIX_B}) % {hx.MIX_P})"
    return f"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> ''))::BIGINT AS n_tokens,
         {mkey} AS mkey
  FROM documents
),
f AS (SELECT doc_id, n_tokens, mkey, (mkey % {_PACK_SHARDS})::BIGINT AS shard
      FROM t WHERE n_tokens > 0),
o AS (
  SELECT doc_id, shard, n_tokens,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY mkey, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS tok_offset
  FROM f
)
SELECT doc_id, shard, n_tokens, tok_offset,
       (tok_offset // {_PACK_SEQ_LEN})::BIGINT AS first_seq,
       ((tok_offset + n_tokens - 1) // {_PACK_SEQ_LEN})::BIGINT AS last_seq
FROM o
"""


# ---------------------------------------------------------------- helpers


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


# the driver runs every queries() entry in one session — memoize the
# built (and persisted) index per (session, sf_dir) so 29 gate queries
# share one index build instead of 29
_INDEX_CACHE: dict[tuple[int, str], ix.InvertedIndex] = {}


def _index(spark: SparkSession, sf_dir: str) -> ix.InvertedIndex:
    key = (id(spark), sf_dir)
    idx = _INDEX_CACHE.get(key)
    if idx is None:
        cfg = ix.IndexConfig(analyzer=SIMPLE)
        idx = ix.build_index(
            _docs(spark, sf_dir), cfg, id_col="doc_id", content_col="text",
            cache=True,
        )
        _INDEX_CACHE[key] = idx
    return idx


def _bm25_run(spark: SparkSession, sf_dir: str, conjunctive: bool) -> DataFrame:
    idx = _index(spark, sf_dir)
    qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
    run = rt.score_queries(idx, qt, k=TOPK, conjunctive=conjunctive)
    return run.select(
        "qid",
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("score", 4).alias("score"),
    )


def _pseudo_qrels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic judgments: for query qN, every doc with
    (doc_id + N) % 3 == 0 is judged; rel=1 iff (doc_id + N) % 6 == 0.
    Purely arithmetic so the DuckDB oracle reproduces it exactly."""
    qids = spark.createDataFrame(
        [(qid,) for qid, _ in QUERY_SET], "qid string"
    ).withColumn("qn", F.substring("qid", 2, 10).cast("long"))
    return (
        _docs(spark, sf_dir)
        .select("doc_id")
        .crossJoin(qids)
        .filter((F.col("doc_id") + F.col("qn")) % 3 == 0)
        .select(
            "qid",
            F.col("doc_id").cast("string").alias("docid"),
            F.when((F.col("doc_id") + F.col("qn")) % 6 == 0, F.lit(1.0))
            .otherwise(F.lit(0.0))
            .alias("rel"),
        )
    )


def _aspect_qrels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic ASPECT judgments for the diversity
    metric: the judged pool is _pseudo_qrels' ((doc_id + qn) % 3 == 0);
    a judged doc covers aspect 0 iff (doc_id+qn) % 2 == 0, aspect 1
    always (the redundant "general" subtopic), aspect 2 iff
    (doc_id+qn) % 4 == 0 — overlapping aspect sets so the (1−α)^c
    decay and the greedy ideal are both genuinely exercised. Purely
    arithmetic so the DuckDB oracle reproduces it exactly."""
    qids = spark.createDataFrame(
        [(qid,) for qid, _ in QUERY_SET], "qid string"
    ).withColumn("qn", F.substring("qid", 2, 10).cast("long"))
    base = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .crossJoin(qids)
        .filter((F.col("doc_id") + F.col("qn")) % 3 == 0)
    )
    aspects = spark.createDataFrame([(0,), (1,), (2,)], "aspect int")
    return (
        base.crossJoin(F.broadcast(aspects))
        .filter(
            (
                (F.col("aspect") == 0)
                & ((F.col("doc_id") + F.col("qn")) % 2 == 0)
            )
            | (F.col("aspect") == 1)
            | (
                (F.col("aspect") == 2)
                & ((F.col("doc_id") + F.col("qn")) % 4 == 0)
            )
        )
        .select(
            "qid", F.col("doc_id").cast("string").alias("docid"), "aspect"
        )
    )


_QRELS_SQL = (
    "qrels AS (SELECT qn.qid, d.doc_id AS docid,"
    " CASE WHEN (d.doc_id + qn.qn) % 6 = 0 THEN 1.0 ELSE 0.0 END AS rel"
    " FROM (SELECT DISTINCT qid, CAST(substr(qid, 2) AS BIGINT) AS qn FROM q) qn"
    " CROSS JOIN documents d WHERE (d.doc_id + qn.qn) % 3 = 0)"
)

def _score_cutoff_sql() -> str:
    """Replays retrieval.score_gap_cutoff over the BM25 run: lead()
    gaps on 4dp-rounded scores, argmax with earliest-rank ties."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
ranked AS (
  SELECT qid, round(s_raw, 4) AS s,
         row_number() OVER (PARTITION BY qid
                            ORDER BY s_raw DESC, doc_id ASC)::BIGINT
           AS rank
  FROM scored
),
g AS (
  SELECT qid, rank, s,
         lead(s) OVER (PARTITION BY qid ORDER BY rank) AS nxt
  FROM ranked WHERE rank <= {TOPK}
),
gg AS (
  SELECT qid, rank, round(s - nxt, 4) AS gap,
         row_number() OVER (PARTITION BY qid
           ORDER BY round(s - nxt, 4) DESC, rank ASC) AS rn
  FROM g WHERE nxt IS NOT NULL
)
SELECT qid, rank AS cut_rank, gap FROM gg WHERE rn = 1
"""


def _assessor_kappa_sql() -> str:
    """Replays evaluation.assessor_agreement over the pseudo-qrels
    pool and its 20%-flipped twin: integer marginals, po/pe/kappa as
    single divisions."""
    from luc4ir_spark.functions import hashing as hx

    A, B, P = hx.MIX_A, hx.MIX_B, hx.MIX_P
    return f"""
WITH {_values_queries()},
pool AS (
  SELECT qn.qid, qn.qn, d.doc_id AS docid,
         CASE WHEN (d.doc_id + qn.qn) % 6 = 0 THEN 1 ELSE 0 END AS ra
  FROM (SELECT DISTINCT qid, CAST(substr(qid, 2) AS BIGINT) AS qn
        FROM q) qn
  CROSS JOIN documents d WHERE (d.doc_id + qn.qn) % 3 = 0
),
p2 AS (
  SELECT qid, docid, ra,
         CASE WHEN (({A} * ((docid * 8 + qn) % {P}) + {B}) % {P}) % 5
                   = 0
              THEN 1 - ra ELSE ra END AS rb
  FROM pool
),
t AS (
  SELECT count(*)::BIGINT AS n,
         sum(CASE WHEN ra = rb THEN 1 ELSE 0 END)::BIGINT AS n_agree,
         sum(ra)::BIGINT AS a1, sum(rb)::BIGINT AS b1
  FROM p2
)
SELECT n, n_agree,
       round(n_agree / n, 4) AS po,
       round((a1 * b1 + (n - a1) * (n - b1)) / (n * n), 4) AS pe,
       CASE WHEN n * n - a1 * b1 - (n - a1) * (n - b1) > 0 THEN
         round((n_agree * n - a1 * b1 - (n - a1) * (n - b1))
               / (n * n - a1 * b1 - (n - a1) * (n - b1)), 4)
       END AS kappa
FROM t
"""


_EVAL_SQL = f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id, s.n_docs, s.avgdl
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank
  FROM scored
),
run AS (SELECT qid, doc_id, rank FROM ranked WHERE rank <= {TOPK}),
{_QRELS_SQL},
joined AS (
  SELECT r.qid, r.doc_id, r.rank, coalesce(qr.rel, 0.0) AS rel,
         CASE WHEN coalesce(qr.rel, 0.0) >= 1.0 THEN 1.0 ELSE 0.0 END AS is_rel
  FROM run r LEFT JOIN qrels qr
    ON r.qid = qr.qid AND r.doc_id = CAST(qr.docid AS BIGINT)
),
win AS (
  SELECT *,
         sum(is_rel) OVER (PARTITION BY qid ORDER BY rank) AS cum_rel,
         rel / log2(rank + 1) AS gain,
         row_number() OVER (PARTITION BY qid ORDER BY rel DESC, rank ASC) AS ideal_rank
  FROM joined
),
win2 AS (SELECT *, rel / log2(ideal_rank + 1) AS ideal_gain FROM win),
totals AS (SELECT qid, count(*)::BIGINT AS num_rel FROM qrels WHERE rel >= 1.0 GROUP BY qid),
perq AS (
  SELECT qid, count(*)::BIGINT AS num_ret, sum(is_rel)::BIGINT AS num_rel_ret,
         min(CASE WHEN is_rel > 0 THEN rank END) AS frr,
         sum(CASE WHEN is_rel > 0 THEN cum_rel / rank END) AS ap_num,
         sum(CASE WHEN rank <= 5 THEN is_rel ELSE 0.0 END) AS p_num,
         sum(CASE WHEN rank <= 10 THEN gain ELSE 0.0 END) AS dcg,
         sum(CASE WHEN ideal_rank <= 10 THEN ideal_gain ELSE 0.0 END) AS idcg
  FROM win2 GROUP BY qid
)
SELECT p.qid, p.num_ret, coalesce(t.num_rel, 0)::BIGINT AS num_rel, p.num_rel_ret,
       round(CASE WHEN coalesce(t.num_rel, 0) > 0 THEN p.num_rel_ret / t.num_rel ELSE 0.0 END, 4) AS recall,
       round(CASE WHEN frr IS NOT NULL THEN 1.0 / frr ELSE 0.0 END, 4) AS rr,
       round(CASE WHEN coalesce(t.num_rel, 0) > 0 THEN coalesce(ap_num, 0.0) / t.num_rel ELSE 0.0 END, 4) AS ap,
       round(p_num / 5.0, 4) AS p_at_5,
       round(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END, 4) AS ndcg
FROM perq p LEFT JOIN totals t USING (qid)
"""


_IPREC_SQL = f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id, s.n_docs, s.avgdl
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank
  FROM scored
),
run AS (SELECT qid, doc_id, rank FROM ranked WHERE rank <= {TOPK}),
{_QRELS_SQL},
joined AS (
  SELECT r.qid, r.doc_id, r.rank,
         CASE WHEN coalesce(qr.rel, 0.0) >= 1.0 THEN 1.0 ELSE 0.0 END AS is_rel
  FROM run r LEFT JOIN qrels qr
    ON r.qid = qr.qid AND r.doc_id = CAST(qr.docid AS BIGINT)
),
win AS (
  SELECT qid, rank,
         CAST(sum(is_rel) OVER (PARTITION BY qid ORDER BY rank) AS BIGINT) AS cum_rel
  FROM joined
),
totals AS (SELECT qid, count(*)::BIGINT AS n_rel FROM qrels WHERE rel >= 1.0 GROUP BY qid),
base AS (
  SELECT w.qid, w.rank, w.cum_rel,
         w.cum_rel / CAST(w.rank AS DOUBLE) AS prec,
         coalesce(t.n_rel, 0) AS n_rel
  FROM win w LEFT JOIN totals t USING (qid)
),
lv AS (
  SELECT b.*, l.level
  FROM base b CROSS JOIN (SELECT unnest(range(0, 11)) AS level) l
),
per AS (
  SELECT qid, CAST(level AS BIGINT) AS level,
         max(CASE WHEN n_rel > 0 AND 10 * cum_rel >= level * n_rel
                  THEN prec END) AS mx
  FROM lv GROUP BY 1, 2
)
SELECT qid, level, round(level / 10.0, 4) AS recall_level,
       round(coalesce(mx, 0.0), 4) AS iprec
FROM per
"""


_TRIANGLES_SQL = """
WITH nodes AS (SELECT doc_id AS id FROM documents),
nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
edges AS (
  SELECT id AS src, (id * 7 + 11) % nn.n AS dst FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 13 + 5) % nn.n FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 3 + 1) % nn.n FROM nodes CROSS JOIN nn
),
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE least(src, dst) < greatest(src, dst)),
tri AS (SELECT count(*)::BIGINT AS n_triangles
        FROM und e1 JOIN und e2 ON e1.b = e2.a
        WHERE EXISTS (SELECT 1 FROM und e3
                      WHERE e3.a = e1.a AND e3.b = e2.b))
SELECT (SELECT count(*) FROM (
          SELECT DISTINCT x FROM (SELECT src AS x FROM edges
                                  UNION ALL SELECT dst FROM edges)
        ))::BIGINT AS n_nodes,
       (SELECT count(*) FROM und)::BIGINT AS n_edges,
       tri.n_triangles
FROM tri
"""

_PAGERANK_SQL = """
WITH nodes AS (SELECT doc_id AS id FROM documents),
nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
edges AS (
  SELECT id AS src, (id * 7 + 11) % nn.n AS dst FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 13 + 5) % nn.n FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 3 + 1) % nn.n FROM nodes CROSS JOIN nn
),
a0 AS (SELECT id, 1::BIGINT AS a FROM nodes),
c1 AS (SELECT e.dst AS id, sum(a.a)::BIGINT AS s
       FROM edges e JOIN a0 a ON e.src = a.id GROUP BY 1),
a1 AS (SELECT nd.id, (9 + 17 * coalesce(c.s, 0))::BIGINT AS a
       FROM nodes nd LEFT JOIN c1 c USING (id)),
c2 AS (SELECT e.dst AS id, sum(a.a)::BIGINT AS s
       FROM edges e JOIN a1 a ON e.src = a.id GROUP BY 1),
a2 AS (SELECT nd.id, (540 + 17 * coalesce(c.s, 0))::BIGINT AS a
       FROM nodes nd LEFT JOIN c2 c USING (id)),
c3 AS (SELECT e.dst AS id, sum(a.a)::BIGINT AS s
       FROM edges e JOIN a2 a ON e.src = a.id GROUP BY 1),
a3 AS (SELECT nd.id, (32400 + 17 * coalesce(c.s, 0))::BIGINT AS a
       FROM nodes nd LEFT JOIN c3 c USING (id))
SELECT a3.id AS doc_id, a3.a AS pr_num,
       round(a3.a / (nn.n * 216000.0), 4) AS pr
FROM a3 CROSS JOIN nn
"""


_COCITATION_SQL = """
WITH nodes AS (SELECT doc_id AS id FROM documents),
nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
edges AS (
  SELECT id AS src, (id * 7 + 11) % nn.n AS dst FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 13 + 5) % nn.n FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 3 + 1) % nn.n FROM nodes CROSS JOIN nn
),
de AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
cc AS (SELECT l.dst AS a, r.dst AS b, count(*)::BIGINT AS n
       FROM de l JOIN de r ON l.src = r.src AND l.dst < r.dst
       GROUP BY 1, 2),
bc AS (SELECT l.src AS a, r.src AS b, count(*)::BIGINT AS n
       FROM de l JOIN de r ON l.dst = r.dst AND l.src < r.src
       GROUP BY 1, 2)
SELECT 'cocite' AS measure, a, b, n FROM cc WHERE n >= 2
UNION ALL
SELECT 'couple' AS measure, a, b, n FROM bc WHERE n >= 2
"""

_VIT_PATCH_SQL = """
WITH imgs AS (
  SELECT doc_id AS image_id,
         (200 + (doc_id * 37) % 1000)::BIGINT AS width,
         (150 + (n_chars * 13) % 800)::BIGINT AS height
  FROM documents
)
SELECT image_id, width, height,
       ((width + 15) // 16)::BIGINT AS patches_x,
       ((height + 15) // 16)::BIGINT AS patches_y,
       (((width + 15) // 16) * ((height + 15) // 16))::BIGINT
         AS n_patches,
       (((width + 15) // 16) * 16 - width)::BIGINT AS pad_x,
       (((height + 15) // 16) * 16 - height)::BIGINT AS pad_y,
       ((width + 15) // 16) * ((height + 15) // 16) > 2500
         AS over_budget
FROM imgs
"""

_LINK_MODULARITY_SQL = """
WITH nodes AS (SELECT doc_id AS id, source FROM documents),
nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
edges0 AS (
  SELECT id AS src, (id * 7 + 11) % nn.n AS dst FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 13 + 5) % nn.n FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 3 + 1) % nn.n FROM nodes CROSS JOIN nn
),
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges0 WHERE least(src, dst) < greatest(src, dst)),
mt AS (SELECT count(*)::BIGINT AS m FROM und),
e AS MATERIALIZED (
  SELECT u.a, u.b, na.source AS ca, nb.source AS cb
  FROM und u JOIN nodes na ON na.id = u.a
  JOIN nodes nb ON nb.id = u.b),
intra AS (SELECT ca AS community, count(*)::BIGINT AS e_intra
          FROM e WHERE ca = cb GROUP BY 1),
deg AS (
  SELECT community, count(*)::BIGINT AS d_total,
         count(DISTINCT id)::BIGINT AS n_nodes
  FROM (SELECT a AS id, ca AS community FROM e
        UNION ALL SELECT b, cb FROM e)
  GROUP BY 1),
per AS (
  SELECT d.community, d.n_nodes,
         coalesce(i.e_intra, 0)::BIGINT AS e_intra, d.d_total
  FROM deg d LEFT JOIN intra i USING (community)),
tot AS (
  SELECT sum(4 * mt.m * per.e_intra)::BIGINT AS num_e,
         sum(per.d_total * per.d_total)::BIGINT AS num_d,
         max(mt.m)::BIGINT AS m2
  FROM per CROSS JOIN mt)
SELECT per.community, per.n_nodes, per.e_intra, per.d_total,
       round((tot.num_e - tot.num_d) / (4 * tot.m2 * tot.m2), 4) AS q
FROM per CROSS JOIN tot
"""

_LINK_ASSORT_SQL = """
WITH nodes AS (SELECT doc_id AS id FROM documents),
nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
edges0 AS (
  SELECT id AS src, (id * 7 + 11) % nn.n AS dst FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 13 + 5) % nn.n FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 3 + 1) % nn.n FROM nodes CROSS JOIN nn
),
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges0 WHERE least(src, dst) < greatest(src, dst)),
deg AS MATERIALIZED (
  SELECT id, count(*)::BIGINT AS d FROM
  (SELECT a AS id FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
e AS (SELECT da.d AS x, db.d AS y
      FROM und JOIN deg da ON da.id = und.a
      JOIN deg db ON db.id = und.b),
pairs2 AS (SELECT x, y FROM e UNION ALL SELECT y AS x, x AS y FROM e),
agg AS (SELECT count(*)::BIGINT AS m, sum(x)::BIGINT AS sx,
               sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx
        FROM pairs2),
nd AS (SELECT count(*)::BIGINT AS n_nodes FROM deg),
ne AS (SELECT count(*)::BIGINT AS n_edges FROM und)
SELECT nd.n_nodes, ne.n_edges,
       CASE WHEN agg.m * agg.sxx - agg.sx * agg.sx <> 0 THEN
         round((agg.m * agg.sxy - agg.sx * agg.sx)
               / (agg.m * agg.sxx - agg.sx * agg.sx), 4)
       END AS r_assortativity
FROM nd CROSS JOIN ne CROSS JOIN agg
"""

_LINK_DEGREE_SQL = """
WITH nodes AS (SELECT doc_id AS id FROM documents),
nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
edges0 AS (
  SELECT id AS src, (id * 7 + 11) % nn.n AS dst FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 13 + 5) % nn.n FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 3 + 1) % nn.n FROM nodes CROSS JOIN nn
),
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges0),
nd AS (SELECT count(*)::BIGINT AS n_nodes FROM
       (SELECT DISTINCT x FROM (SELECT src AS x FROM e
                                UNION ALL SELECT dst FROM e))),
ne AS (SELECT count(*)::BIGINT AS n_edges FROM e),
od AS (SELECT max(c)::BIGINT AS max_out_degree FROM
       (SELECT src, count(*) AS c FROM e GROUP BY 1)),
idg AS (SELECT max(c)::BIGINT AS max_in_degree FROM
        (SELECT dst, count(*) AS c FROM e GROUP BY 1)),
rc AS (SELECT count(*)::BIGINT AS n_reciprocal_edges
       FROM e WHERE EXISTS (SELECT 1 FROM e r
                            WHERE r.src = e.dst AND r.dst = e.src))
SELECT nd.n_nodes, ne.n_edges, od.max_out_degree, idg.max_in_degree,
       rc.n_reciprocal_edges,
       round(rc.n_reciprocal_edges / ne.n_edges, 4) AS reciprocity
FROM nd CROSS JOIN ne CROSS JOIN od CROSS JOIN idg CROSS JOIN rc
"""

_KCORE_SQL = """
WITH nodes0 AS (SELECT doc_id AS id FROM documents),
nn AS (SELECT count(*)::BIGINT AS n FROM nodes0),
edges AS (
  SELECT id AS src, (id * 7 + 11) % nn.n AS dst
  FROM nodes0 CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 13 + 5) % nn.n FROM nodes0 CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 3 + 1) % nn.n FROM nodes0 CROSS JOIN nn
),
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE least(src, dst) < greatest(src, dst)),
n0 AS (SELECT DISTINCT a AS id FROM und
       UNION SELECT b FROM und),
d1 AS (SELECT id, count(*)::BIGINT AS d FROM
       (SELECT a AS id FROM und UNION ALL SELECT b FROM und)
       GROUP BY 1),
s1 AS MATERIALIZED (SELECT n0.id FROM n0 JOIN d1 USING (id)
      WHERE d1.d >= 4),
e2 AS MATERIALIZED (
  SELECT u.a, u.b FROM und u
  WHERE u.a IN (SELECT id FROM s1) AND u.b IN (SELECT id FROM s1)),
d2 AS (SELECT id, count(*)::BIGINT AS d FROM
       (SELECT a AS id FROM e2 UNION ALL SELECT b FROM e2)
       GROUP BY 1),
s2 AS MATERIALIZED (SELECT s1.id FROM s1 JOIN d2 USING (id)
      WHERE d2.d >= 4),
e3 AS MATERIALIZED (
  SELECT e.a, e.b FROM e2 e
  WHERE e.a IN (SELECT id FROM s2) AND e.b IN (SELECT id FROM s2)),
d3 AS (SELECT id, count(*)::BIGINT AS d FROM
       (SELECT a AS id FROM e3 UNION ALL SELECT b FROM e3)
       GROUP BY 1),
s3 AS MATERIALIZED (SELECT s2.id FROM s2 JOIN d3 USING (id)
      WHERE d3.d >= 4)
SELECT id, 1::BIGINT AS peel_round FROM n0
WHERE id NOT IN (SELECT id FROM s1)
UNION ALL
SELECT id, 2 FROM s1 WHERE id NOT IN (SELECT id FROM s2)
UNION ALL
SELECT id, 3 FROM s2 WHERE id NOT IN (SELECT id FROM s3)
UNION ALL
SELECT id, 0 FROM s3
"""

_LINK_BFS_SQL = """
WITH nodes AS (SELECT doc_id AS id FROM documents),
nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
edges AS (
  SELECT id AS src, (id * 7 + 11) % nn.n AS dst FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 13 + 5) % nn.n FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 3 + 1) % nn.n FROM nodes CROSS JOIN nn
),
d0 AS (SELECT id, 0 AS depth FROM nodes WHERE id % 97 = 0),
f1 AS (SELECT DISTINCT e.dst AS id, 1 AS depth
       FROM d0 JOIN edges e ON e.src = d0.id),
b1 AS (SELECT id, min(depth) AS depth FROM
       (SELECT * FROM d0 UNION ALL SELECT * FROM f1) GROUP BY 1),
f2 AS (SELECT DISTINCT e.dst AS id, 2 AS depth
       FROM b1 JOIN edges e ON e.src = b1.id AND b1.depth = 1),
b2 AS (SELECT id, min(depth) AS depth FROM
       (SELECT * FROM b1 UNION ALL SELECT * FROM f2) GROUP BY 1),
f3 AS (SELECT DISTINCT e.dst AS id, 3 AS depth
       FROM b2 JOIN edges e ON e.src = b2.id AND b2.depth = 2),
b3 AS (SELECT id, min(depth) AS depth FROM
       (SELECT * FROM b2 UNION ALL SELECT * FROM f3) GROUP BY 1)
SELECT id, depth::BIGINT AS depth FROM b3
"""

_LINK_PREDICTION_SQL = """
WITH nodes AS (SELECT doc_id AS id FROM documents),
nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
edges AS (
  SELECT id AS src, (id * 7 + 11) % nn.n AS dst FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 13 + 5) % nn.n FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 3 + 1) % nn.n FROM nodes CROSS JOIN nn
),
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE least(src, dst) < greatest(src, dst)),
nbr AS MATERIALIZED (
  SELECT a AS z, b AS v FROM und UNION ALL SELECT b, a FROM und),
deg AS MATERIALIZED (
  SELECT z, count(*)::BIGINT AS d FROM nbr GROUP BY 1),
nz AS MATERIALIZED (
  SELECT n.z, n.v, (1000000 // d.d)::BIGINT AS w
  FROM nbr n JOIN deg d USING (z)),
p AS (
  SELECT l.v AS a, r.v AS b, count(*)::BIGINT AS common,
         sum(l.w)::BIGINT AS ra_q
  FROM nz l JOIN nz r ON l.z = r.z AND l.v < r.v
  GROUP BY 1, 2)
SELECT p.a, p.b, p.common,
       round(p.common * 1.0 / (da.d + db.d - p.common), 4) AS jaccard,
       round(p.ra_q / 1000000.0, 4) AS ra
FROM p JOIN deg da ON da.z = p.a JOIN deg db ON db.z = p.b
WHERE p.common >= 2
"""


_ANCHOR_FIELD_SQL_T = """
WITH nodes AS (SELECT doc_id AS id FROM documents),
nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
edges AS (
  SELECT id AS src, (id * 7 + 11) % nn.n AS dst FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 13 + 5) % nn.n FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 3 + 1) % nn.n FROM nodes CROSS JOIN nn
),
an AS (
  SELECT src, dst,
         'Visit page-' || dst::VARCHAR || ' now tag' ||
         ((({0} * ((src * 1048576 + dst) % {2}) + {1}) % {2})
          % 5)::VARCHAR AS anchor
  FROM edges
),
flat AS (
  SELECT dst AS doc_id,
         unnest(list_filter(regexp_split_to_array(lower(anchor),
                '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM an
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM flat GROUP BY 1, 2),
inl AS (SELECT dst AS doc_id, count(*)::BIGINT AS n_inlinks
        FROM edges GROUP BY 1)
SELECT tf.doc_id, tf.term, tf.tf, inl.n_inlinks
FROM tf JOIN inl USING (doc_id)
"""

from luc4ir_spark.functions import hashing as _hx_anchor
_ANCHOR_FIELD_SQL = _ANCHOR_FIELD_SQL_T.format(
    _hx_anchor.MIX_A, _hx_anchor.MIX_B, _hx_anchor.MIX_P
)


def _pagerank_boost_sql() -> str:
    """Replays function_score over the BM25 run with the synthetic-
    graph PageRank prior as boost = 1 + ln(1 + pr) — the classic
    link-prior × relevance composition (Brin-Page'98 meets BM25)."""
    return f"""
WITH {_BM25_RUN_CTES},
nodes AS (SELECT doc_id AS id FROM documents),
nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
edges AS (
  SELECT id AS src, (id * 7 + 11) % nn.n AS dst FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 13 + 5) % nn.n FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 3 + 1) % nn.n FROM nodes CROSS JOIN nn
),
a0 AS (SELECT id, 1::BIGINT AS a FROM nodes),
c1 AS (SELECT e.dst AS id, sum(a.a)::BIGINT AS s
       FROM edges e JOIN a0 a ON e.src = a.id GROUP BY 1),
a1 AS (SELECT nd.id, (9 + 17 * coalesce(c.s, 0))::BIGINT AS a
       FROM nodes nd LEFT JOIN c1 c USING (id)),
c2 AS (SELECT e.dst AS id, sum(a.a)::BIGINT AS s
       FROM edges e JOIN a1 a ON e.src = a.id GROUP BY 1),
a2 AS (SELECT nd.id, (540 + 17 * coalesce(c.s, 0))::BIGINT AS a
       FROM nodes nd LEFT JOIN c2 c USING (id)),
c3 AS (SELECT e.dst AS id, sum(a.a)::BIGINT AS s
       FROM edges e JOIN a2 a ON e.src = a.id GROUP BY 1),
a3 AS (SELECT nd.id, (32400 + 17 * coalesce(c.s, 0))::BIGINT AS a
       FROM nodes nd LEFT JOIN c3 c USING (id)),
prt AS (SELECT a3.id AS doc_id, a3.a / (nn.n * 216000.0) AS pr
        FROM a3 CROSS JOIN nn),
boosted AS (
  SELECT r.qid, r.doc_id,
         r.score * (1.0 + ln(1.0 + prt.pr)) AS s
  FROM ranked r JOIN prt USING (doc_id)
  WHERE r.rank <= {TOPK}
)
SELECT qid, doc_id, rank, score FROM (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
             ORDER BY s DESC, doc_id ASC)::BIGINT AS rank,
         round(s, 4) AS score
  FROM boosted) WHERE rank <= {TOPK}
"""


_HITS_SQL = """
WITH nodes AS (SELECT doc_id AS id FROM documents),
nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
edges AS (
  SELECT id AS src, (id * 7 + 11) % nn.n AS dst FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 13 + 5) % nn.n FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 3 + 1) % nn.n FROM nodes CROSS JOIN nn
),
h0 AS (SELECT id, 1::BIGINT AS h FROM nodes),
a1 AS (SELECT nd.id, coalesce(s.s, 0)::BIGINT AS a FROM nodes nd LEFT JOIN
       (SELECT e.dst AS id, sum(h0.h)::BIGINT AS s
        FROM edges e JOIN h0 ON e.src = h0.id GROUP BY 1) s USING (id)),
h1 AS (SELECT nd.id, coalesce(s.s, 0)::BIGINT AS h FROM nodes nd LEFT JOIN
       (SELECT e.src AS id, sum(a1.a)::BIGINT AS s
        FROM edges e JOIN a1 ON e.dst = a1.id GROUP BY 1) s USING (id)),
a2 AS (SELECT nd.id, coalesce(s.s, 0)::BIGINT AS a FROM nodes nd LEFT JOIN
       (SELECT e.dst AS id, sum(h1.h)::BIGINT AS s
        FROM edges e JOIN h1 ON e.src = h1.id GROUP BY 1) s USING (id)),
h2 AS (SELECT nd.id, coalesce(s.s, 0)::BIGINT AS h FROM nodes nd LEFT JOIN
       (SELECT e.src AS id, sum(a2.a)::BIGINT AS s
        FROM edges e JOIN a2 ON e.dst = a2.id GROUP BY 1) s USING (id))
SELECT h2.id AS doc_id, h2.h AS hub_num, a2.a AS auth_num
FROM h2 JOIN a2 USING (id)
"""


_PMI_MIN_DF = 2
_PMI_MAX_DF = 400
_PMI_MIN_CO = 2

_PMI_SQL = f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS},
band AS (SELECT term, df FROM dft
         WHERE df >= {_PMI_MIN_DF} AND df <= {_PMI_MAX_DF}),
p AS (SELECT tf.term, tf.doc_id FROM tf JOIN band USING (term)),
pairs AS (
  SELECT l.term AS term_l, r.term AS term_r, count(*)::BIGINT AS co_df
  FROM p l JOIN p r ON l.doc_id = r.doc_id AND l.term < r.term
  GROUP BY 1, 2
),
f AS (SELECT * FROM pairs WHERE co_df >= {_PMI_MIN_CO})
SELECT f.term_l, f.term_r, f.co_df, bl.df AS df_l, br.df AS df_r,
       round(ln(s.n_docs * f.co_df / CAST(bl.df * br.df AS DOUBLE)), 4) AS pmi
FROM f
JOIN band bl ON f.term_l = bl.term
JOIN band br ON f.term_r = br.term
CROSS JOIN stats s
"""


_PPMI_TOPN = 3

_PPMI_SQL = f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
band AS (SELECT term, df FROM dft
         WHERE df >= {_PMI_MIN_DF} AND df <= {_PMI_MAX_DF}),
p AS (SELECT tf.term, tf.doc_id FROM tf JOIN band USING (term)),
pairs AS (
  SELECT l.term AS term_l, r.term AS term_r, count(*)::BIGINT AS co_df
  FROM p l JOIN p r ON l.doc_id = r.doc_id AND l.term < r.term
  GROUP BY 1, 2
),
f AS (SELECT * FROM pairs WHERE co_df >= {_PMI_MIN_CO}),
pm AS MATERIALIZED (
  SELECT f.term_l, f.term_r,
         ln(s.n_docs * f.co_df / CAST(bl.df * br.df AS DOUBLE)) AS pmi
  FROM f
  JOIN band bl ON f.term_l = bl.term
  JOIN band br ON f.term_r = br.term
  CROSS JOIN stats s
  WHERE ln(s.n_docs * f.co_df / CAST(bl.df * br.df AS DOUBLE)) > 0
),
v AS MATERIALIZED (
  SELECT term_l AS term, term_r AS ctx, pmi AS w FROM pm
  UNION ALL
  SELECT term_r AS term, term_l AS ctx, pmi AS w FROM pm
),
nrm AS MATERIALIZED (
  SELECT term, sqrt(sum(w * w)) AS nr FROM v GROUP BY 1),
qt AS (SELECT DISTINCT term AS qterm FROM q),
qv AS (SELECT q.qterm, v.ctx, v.w FROM v JOIN qt q ON v.term = q.qterm),
d AS (
  SELECT qv.qterm, v.term AS neighbor, sum(qv.w * v.w) AS dot
  FROM qv JOIN v ON v.ctx = qv.ctx
  WHERE v.term <> qv.qterm
  GROUP BY 1, 2),
c AS (
  SELECT d.qterm, d.neighbor, d.dot / (nq.nr * nn.nr) AS cos
  FROM d
  JOIN nrm nq ON nq.term = d.qterm
  JOIN nrm nn ON nn.term = d.neighbor)
SELECT qterm, rank, neighbor, round(cos, 4) AS cos FROM (
  SELECT qterm, neighbor, cos,
         row_number() OVER (PARTITION BY qterm
             ORDER BY round(cos, 4) DESC, neighbor ASC)::BIGINT AS rank
  FROM c) WHERE rank <= {_PPMI_TOPN}
"""


_QSEG_THR = 0.0


def _qseg_sql() -> str:
    """Replays qsel.query_segmentation: corpus-adjacency PMI glue,
    boundary when the query bigram is unseen or glue < threshold,
    running boundary sum as the segment id."""
    vals = ", ".join(f"('{q}', '{t}')" for q, t in QUERY_SET)
    return f"""
WITH qq(qid, text) AS (VALUES {vals}),
t AS (SELECT list_filter(regexp_split_to_array(lower(text),
        '[^a-z0-9]+'), x -> x <> '') AS tk FROM documents),
e AS (SELECT tk, unnest(range(1, len(tk))) AS i FROM t
      WHERE len(tk) >= 2),
bg AS (SELECT tk[i::INT] AS w1, tk[(i+1)::INT] AS w2,
              count(*)::BIGINT AS c FROM e GROUP BY 1, 2),
l AS (SELECT w1, sum(c)::BIGINT AS c1 FROM bg GROUP BY 1),
r AS (SELECT w2, sum(c)::BIGINT AS c2 FROM bg GROUP BY 1),
tt AS (SELECT sum(c)::BIGINT AS n FROM bg),
glue AS (SELECT bg.w1, bg.w2,
                ln(tt.n * bg.c / (l.c1 * r.c2)::DOUBLE) AS g
         FROM bg JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN tt),
qt AS MATERIALIZED (
  SELECT qid, i - 1 AS pos, toks[i::INT] AS token
  FROM (SELECT qid, list_filter(regexp_split_to_array(lower(text),
          '[^a-z0-9]+'), x -> x <> '') AS toks FROM qq),
       unnest(range(1, len(toks) + 1)) AS u(i)),
qbg AS (SELECT a.qid, b.pos, a.token AS w1, b.token AS w2
        FROM qt a JOIN qt b ON b.qid = a.qid AND b.pos = a.pos + 1),
bounds AS (
  SELECT qbg.qid, qbg.pos,
         CASE WHEN g.g IS NULL OR g.g < {_QSEG_THR}
              THEN 1 ELSE 0 END AS b
  FROM qbg LEFT JOIN glue g ON g.w1 = qbg.w1 AND g.w2 = qbg.w2),
seg AS (
  SELECT qt.qid, qt.pos, qt.token,
         sum(coalesce(b.b, 0)) OVER (PARTITION BY qt.qid ORDER BY qt.pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
           AS seg
  FROM qt LEFT JOIN bounds b ON b.qid = qt.qid AND b.pos = qt.pos)
SELECT qid, seg, string_agg(token, ' ' ORDER BY pos) AS phrase,
       count(*)::BIGINT AS n_terms
FROM seg GROUP BY 1, 2
"""


_SNM_WIN, _SNM_KEYLEN, _SNM_BLOCKLEN, _SNM_THR = 4, 24, 4, 0.8

_SNM_SQL = f"""
WITH {_TOKS},
d AS (SELECT doc_id,
             substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                    1, {_SNM_KEYLEN}) AS key
      FROM documents),
b AS (SELECT doc_id, key, substr(key, 1, {_SNM_BLOCKLEN}) AS block FROM d),
rk AS (SELECT doc_id, block,
              row_number() OVER (PARTITION BY block
                  ORDER BY key ASC, doc_id ASC) AS rn
       FROM b),
cands AS (
  SELECT least(l.doc_id, r.doc_id) AS a,
         greatest(l.doc_id, r.doc_id) AS b
  FROM rk l JOIN rk r
    ON l.block = r.block AND r.rn > l.rn
   AND r.rn <= l.rn + {_SNM_WIN - 1}),
tok AS (SELECT DISTINCT doc_id, term FROM toks),
sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM tok GROUP BY 1),
inter AS (
  SELECT c.a, c.b, count(*)::BIGINT AS common
  FROM cands c
  JOIN tok x ON x.doc_id = c.a
  JOIN tok y ON y.doc_id = c.b AND y.term = x.term
  GROUP BY 1, 2)
SELECT i.a, i.b,
       round(i.common / (sa.sz + sb.sz - i.common)::DOUBLE, 4) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.a
JOIN sizes sb ON sb.doc_id = i.b
WHERE i.common / (sa.sz + sb.sz - i.common)::DOUBLE >= {_SNM_THR}
"""


_ASOF_TOL_US = 86_400_000_000  # 24 h lookback tolerance

_ASOF_SQL = f"""
WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us,
                  value FROM events),
c AS (SELECT event_id, user_id, t_us FROM e WHERE event_type = 'click'),
v AS (SELECT user_id, t_us AS v_us, event_id AS view_id,
             value AS view_value
      FROM e WHERE event_type = 'view'),
j AS (
  SELECT c.event_id, c.user_id, c.t_us, v.view_id, v.view_value, v.v_us
  FROM c ASOF LEFT JOIN v
    ON c.user_id = v.user_id AND c.t_us >= v.v_us
)
SELECT event_id, user_id, t_us,
       CASE WHEN v_us IS NOT NULL AND t_us - v_us <= {_ASOF_TOL_US}
            THEN view_id END AS view_id,
       round(CASE WHEN v_us IS NOT NULL AND t_us - v_us <= {_ASOF_TOL_US}
                  THEN view_value END, 4) AS view_value,
       CASE WHEN v_us IS NOT NULL AND t_us - v_us <= {_ASOF_TOL_US}
            THEN v_us END AS asof_time_us
FROM j
"""


_KMV_K = 64

_KMV_SQL = f"""
WITH h AS (SELECT DISTINCT event_type,
           (2654435761 * (user_id % 2147483647) + 2246822519)
             % 2147483647 AS hh
           FROM events),
r AS (SELECT event_type, hh,
             row_number() OVER (PARTITION BY event_type ORDER BY hh) AS rn
      FROM h),
t AS (SELECT event_type, count(*)::BIGINT AS m,
             max(CASE WHEN rn = {_KMV_K} THEN hh END)::BIGINT AS kth_hash
      FROM r WHERE rn <= {_KMV_K} GROUP BY 1),
x AS (SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact
      FROM events GROUP BY 1)
SELECT t.event_type, t.m, t.kth_hash,
       round(CASE WHEN t.m < {_KMV_K} THEN t.m::DOUBLE
                  ELSE ({_KMV_K - 1}.0 * 2147483647) / t.kth_hash END,
             4) AS est_distinct,
       x.n_exact
FROM t JOIN x USING (event_type)
"""


_KMV_SETOPS_SQL = f"""
WITH ha AS (SELECT DISTINCT (2654435761 * (user_id % 2147483647)
             + 2246822519) % 2147483647 AS h
            FROM events WHERE event_type = 'click'),
heavy AS (SELECT user_id FROM events GROUP BY 1
          HAVING count(*) >= 70),
hb AS (SELECT DISTINCT (2654435761 * (user_id % 2147483647)
             + 2246822519) % 2147483647 AS h
            FROM heavy),
sa AS (SELECT h, rn FROM (SELECT h, row_number() OVER (ORDER BY h)
             AS rn FROM ha) WHERE rn <= {_KMV_K}),
sb AS (SELECT h, rn FROM (SELECT h, row_number() OVER (ORDER BY h)
             AS rn FROM hb) WHERE rn <= {_KMV_K}),
ta AS (SELECT count(*)::BIGINT AS m_a,
              coalesce(max(CASE WHEN rn = {_KMV_K} THEN h END),
                       2147483647)::BIGINT AS tha
       FROM sa),
tb AS (SELECT count(*)::BIGINT AS m_b,
              coalesce(max(CASE WHEN rn = {_KMV_K} THEN h END),
                       2147483647)::BIGINT AS thb
       FROM sb),
th AS (SELECT m_a, m_b, least(tha, thb)::BIGINT AS theta_hash
       FROM ta CROSS JOIN tb),
ra AS (SELECT sa.h FROM sa CROSS JOIN th WHERE sa.h < th.theta_hash),
rb AS (SELECT sb.h FROM sb CROSS JOIN th WHERE sb.h < th.theta_hash),
com AS (SELECT count(*)::BIGINT AS n_common
        FROM ra JOIN rb USING (h)),
uni AS (SELECT count(*)::BIGINT AS n_union FROM
        (SELECT DISTINCT h FROM (SELECT h FROM ra
                                 UNION ALL SELECT h FROM rb))),
exi AS (SELECT count(*)::BIGINT AS exact_intersection
        FROM ha JOIN hb USING (h)),
exu AS (SELECT count(*)::BIGINT AS exact_union FROM
        (SELECT DISTINCT h FROM (SELECT h FROM ha
                                 UNION ALL SELECT h FROM hb)))
SELECT th.m_a, th.m_b, th.theta_hash, com.n_common, uni.n_union,
       round(com.n_common * 2147483647.0 / th.theta_hash, 4)
         AS est_intersection,
       round(uni.n_union * 2147483647.0 / th.theta_hash, 4)
         AS est_union,
       CASE WHEN uni.n_union > 0
            THEN round(com.n_common / uni.n_union, 4)
            ELSE 0.0 END AS est_jaccard,
       exi.exact_intersection, exu.exact_union
FROM th CROSS JOIN com CROSS JOIN uni CROSS JOIN exi CROSS JOIN exu
"""


_SELECTIVITY_SQL = f"""
WITH toks AS (SELECT doc_id, unnest(list_filter(
       regexp_split_to_array(lower(text), '[^a-z0-9]+'),
       x -> x <> '')) AS term FROM documents),
ha AS (SELECT DISTINCT (2654435761 * (doc_id % 2147483647)
             + 2246822519) % 2147483647 AS h
       FROM toks WHERE term = 'table'),
hb AS (SELECT DISTINCT (2654435761 * (doc_id % 2147483647)
             + 2246822519) % 2147483647 AS h
       FROM toks WHERE term = 'window'),
sa AS (SELECT h, rn FROM (SELECT h, row_number() OVER (ORDER BY h)
             AS rn FROM ha) WHERE rn <= {_KMV_K}),
sb AS (SELECT h, rn FROM (SELECT h, row_number() OVER (ORDER BY h)
             AS rn FROM hb) WHERE rn <= {_KMV_K}),
ta AS (SELECT count(*)::BIGINT AS m_a,
              coalesce(max(CASE WHEN rn = {_KMV_K} THEN h END),
                       2147483647)::BIGINT AS tha
       FROM sa),
tb AS (SELECT count(*)::BIGINT AS m_b,
              coalesce(max(CASE WHEN rn = {_KMV_K} THEN h END),
                       2147483647)::BIGINT AS thb
       FROM sb),
th AS (SELECT m_a, m_b, least(tha, thb)::BIGINT AS theta_hash
       FROM ta CROSS JOIN tb),
ra AS (SELECT sa.h FROM sa CROSS JOIN th WHERE sa.h < th.theta_hash),
rb2 AS (SELECT sb.h FROM sb CROSS JOIN th WHERE sb.h < th.theta_hash),
com AS (SELECT count(*)::BIGINT AS n_common
        FROM ra JOIN rb2 USING (h)),
uni AS (SELECT count(*)::BIGINT AS n_union FROM
        (SELECT DISTINCT h FROM (SELECT h FROM ra
                                 UNION ALL SELECT h FROM rb2))),
exi AS (SELECT count(*)::BIGINT AS exact_intersection
        FROM ha JOIN hb USING (h)),
exu AS (SELECT count(*)::BIGINT AS exact_union FROM
        (SELECT DISTINCT h FROM (SELECT h FROM ha
                                 UNION ALL SELECT h FROM hb)))
SELECT th.m_a, th.m_b, th.theta_hash, com.n_common, uni.n_union,
       round(com.n_common * 2147483647.0 / th.theta_hash, 4)
         AS est_intersection,
       round(uni.n_union * 2147483647.0 / th.theta_hash, 4)
         AS est_union,
       CASE WHEN uni.n_union > 0
            THEN round(com.n_common / uni.n_union, 4)
            ELSE 0.0 END AS est_jaccard,
       exi.exact_intersection, exu.exact_union
FROM th CROSS JOIN com CROSS JOIN uni CROSS JOIN exi CROSS JOIN exu
"""


_ROLLUP_SQL = """
WITH base AS (
  SELECT event_type,
         epoch_us(date_trunc('day', ts)) AS day_us,
         epoch_us(date_trunc('hour', ts)) AS hour_us,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
)
SELECT coalesce(event_type, '(all)') AS event_type,
       coalesce(day_us, -1)::BIGINT AS day_us,
       coalesce(hour_us, -1)::BIGINT AS hour_us,
       count(*)::BIGINT AS n,
       sum(cents)::BIGINT AS sum_value_cents
FROM base
GROUP BY ROLLUP (event_type, day_us, hour_us)
"""


_EWMA_W = 8


def _event_ewma_sql() -> str:
    """Replays eventops.event_ewma: densified daily grid, W-term
    integer lag kernel (weights 2^(W-1-j)), one final division. The
    kernel terms are generated from the same W so both engines stay
    in sync; all sums are integer, so fold order is irrelevant."""
    w = _EWMA_W
    num_terms = [f"x * {1 << (w - 1)}"]
    den_terms = [str(1 << (w - 1))]
    for j in range(1, w):
        wt = 1 << (w - 1 - j)
        num_terms.append(f"coalesce(lag(x, {j}) OVER wd, 0) * {wt}")
        den_terms.append(
            f"CASE WHEN lag(x, {j}) OVER wd IS NULL THEN 0 ELSE {wt} END"
        )
    return f"""
WITH daily AS (
  SELECT event_type,
         date_diff('day', TIMESTAMP '1970-01-01 00:00:00',
                   date_trunc('day', ts))::BIGINT AS day_idx,
         count(*)::BIGINT AS x
  FROM events GROUP BY 1, 2
),
b AS (SELECT min(day_idx) AS d0, max(day_idx) AS d1 FROM daily),
grid AS (
  SELECT t.event_type, gs.g::BIGINT AS day_idx
  FROM (SELECT DISTINCT event_type FROM daily) t
  CROSS JOIN (SELECT unnest(generate_series(d0, d1)) AS g FROM b) gs
),
dense AS (
  SELECT g.event_type, g.day_idx, coalesce(d.x, 0)::BIGINT AS x
  FROM grid g LEFT JOIN daily d USING (event_type, day_idx)
),
e AS (
  SELECT event_type, day_idx, x,
         ({' + '.join(num_terms)})::BIGINT AS num,
         ({' + '.join(den_terms)})::BIGINT AS den
  FROM dense
  WINDOW wd AS (PARTITION BY event_type ORDER BY day_idx)
)
SELECT event_type, (day_idx * 86400000000)::BIGINT AS day_us,
       x AS n_events, round(num / den, 4) AS ewma
FROM e
"""


_DRIFT_S, _DRIFT_TOPN = 4, 15


def _shard_idf_drift_sql() -> str:
    """Replays indexer.shard_idf_drift: mix-hash doc sharding, absent
    shards count df_local 0, max |idf_local - idf_global| per term,
    top-n by the 4dp-rounded drift (term ties)."""
    mix = "((2654435761 * (doc_id % 2147483647) + 2246822519) % 2147483647)"
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS},
shp AS (SELECT term, {mix} % {_DRIFT_S} AS shard FROM tf),
dfl AS (SELECT term, shard, count(*)::BIGINT AS df_l
        FROM shp GROUP BY 1, 2),
ns AS (SELECT {mix} % {_DRIFT_S} AS shard, count(*)::BIGINT AS n_s
       FROM dl GROUP BY 1),
grid AS (SELECT dft.term, dft.df, g.g AS shard
         FROM dft CROSS JOIN (SELECT unnest(range({_DRIFT_S})) AS g) g),
j AS (SELECT grid.term, grid.df,
             coalesce(dfl.df_l, 0)::BIGINT AS df_l, ns.n_s
      FROM grid LEFT JOIN dfl
        ON dfl.term = grid.term AND dfl.shard = grid.shard
      JOIN ns ON ns.shard = grid.shard),
d AS (SELECT j.term, j.df,
             abs(ln(1.0 + (n_s::DOUBLE - df_l + 0.5) / (df_l + 0.5))
                 - ln(1.0 + (s.n_docs - df + 0.5) / (df + 0.5))) AS dd
      FROM j CROSS JOIN stats s),
a AS (SELECT term, df, round(max(dd), 4) AS drift FROM d GROUP BY 1, 2),
r AS (SELECT term, df, drift,
             row_number() OVER (ORDER BY drift DESC,
                                term ASC)::BIGINT AS rank
      FROM a)
SELECT term, df, rank, drift FROM r WHERE rank <= {_DRIFT_TOPN}
"""


_CH_BITS, _CH_N1, _CH_N2 = 60, 4, 5


def _ch_points(n: int) -> list[tuple[str, int]]:
    """Ring points for nodes node-0..node-(n-1): md5-60bit of the node
    name — driver-side literals shared verbatim with the oracle."""
    import hashlib

    return [
        (
            f"node-{i}",
            int(hashlib.md5(f"node-{i}".encode()).hexdigest()[:15], 16),
        )
        for i in range(n)
    ]


_HRW_NODES = [("n0", 11), ("n1", 22), ("n2", 33), ("n3", 44),
              ("n4", 55)]


def _rendezvous_sql() -> str:
    """Replays rendezvous_assign at N=4 and N=5: per-(doc, node) mix
    weight, lexicographic struct max (ties to the later node), joined
    transition counts."""
    from luc4ir_spark.functions import hashing as hx

    def vals(k):
        return ", ".join(f"('{n}', {s})" for n, s in _HRW_NODES[:k])

    w = (f"(({hx.MIX_A} * ((d.doc_id * 1048576 + n.salt) % {hx.MIX_P})"
         f" + {hx.MIX_B}) % {hx.MIX_P})")
    return f"""
WITH n4(node_id, salt) AS (VALUES {vals(4)}),
n5(node_id, salt) AS (VALUES {vals(5)}),
a AS (
  SELECT doc_id, (max(struct_pack(w := w, n := node_id))).n AS node4
  FROM (SELECT d.doc_id, n.node_id, {w} AS w
        FROM documents d CROSS JOIN n4 n)
  GROUP BY 1
),
b AS (
  SELECT doc_id, (max(struct_pack(w := w, n := node_id))).n AS node5
  FROM (SELECT d.doc_id, n.node_id, {w} AS w
        FROM documents d CROSS JOIN n5 n)
  GROUP BY 1
)
SELECT a.node4, b.node5, count(*)::BIGINT AS n_docs
FROM a JOIN b USING (doc_id) GROUP BY 1, 2
"""


def _consistent_hashing_sql() -> str:
    """Replays two consistent_hash_assign runs (N=4 and N=5 nodes,
    same literal ring points) and their transition matrix — the
    consistent-hashing guarantee made visible: only the NEW node
    steals docs, every other cell is diagonal."""
    span = 1 << _CH_BITS

    def values(n: int) -> str:
        return ", ".join(
            f"('{name}', {p})" for name, p in _ch_points(n)
        )

    def assign(cte: str, nodes: str, out: str) -> str:
        return f"""
{cte} AS (
  SELECT d.doc_id,
         (min(struct_pack(
            e := CASE WHEN n.point >= d.pos THEN n.point
                      ELSE n.point + {span} END,
            n := n.node_id))).n AS {out}
  FROM d CROSS JOIN {nodes} n GROUP BY d.doc_id)"""

    return f"""
WITH nodes4(node_id, point) AS (VALUES {values(_CH_N1)}),
nodes5(node_id, point) AS (VALUES {values(_CH_N2)}),
d AS (SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
               ::BIGINT % {span} AS pos
      FROM documents),
{assign('a', 'nodes4', 'node4')},
{assign('b', 'nodes5', 'node5')}
SELECT a.node4, b.node5, count(*)::BIGINT AS n_docs
FROM a JOIN b USING (doc_id) GROUP BY 1, 2
"""


_RB_NODES, _RB_VNODES = 4, 8


def _rb_points(n_nodes: int, vnodes: int) -> list[tuple[str, int]]:
    """Virtual-node ring points: vnode j of node-i hashes
    'node-i#j' — literals shared verbatim with the oracle."""
    import hashlib

    return [
        (
            f"node-{i}",
            int(
                hashlib.md5(f"node-{i}#{j}".encode()).hexdigest()[:15],
                16,
            ),
        )
        for i in range(n_nodes)
        for j in range(vnodes)
    ]


def _ring_balance_sql() -> str:
    """Replays consistent_hash_assign at 1 vs _RB_VNODES virtual
    nodes per physical node: per-(config, node) doc counts — the
    load-smoothing effect of vnodes as data."""
    span = 1 << _CH_BITS

    def values(v: int) -> str:
        return ", ".join(
            f"('{n}', {p})" for n, p in _rb_points(_RB_NODES, v)
        )

    def assign(cte: str, nodes: str) -> str:
        return f"""
{cte} AS (
  SELECT d.doc_id,
         (min(struct_pack(
            e := CASE WHEN n.point >= d.pos THEN n.point
                      ELSE n.point + {span} END,
            n := n.node_id))).n AS node_id
  FROM d CROSS JOIN {nodes} n GROUP BY d.doc_id)"""

    return f"""
WITH n1(node_id, point) AS (VALUES {values(1)}),
nv(node_id, point) AS (VALUES {values(_RB_VNODES)}),
d AS (SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
               ::BIGINT % {span} AS pos
      FROM documents),
{assign('a1', 'n1')},
{assign('av', 'nv')}
SELECT 'v1' AS config, node_id, count(*)::BIGINT AS n_docs
FROM a1 GROUP BY 2
UNION ALL
SELECT 'v{_RB_VNODES}', node_id, count(*)::BIGINT
FROM av GROUP BY 2
"""


_KW_TOPM = 3


def _doc_keywords_sql() -> str:
    """Replays textstats.doc_keywords: tf·ln(N/df) per (doc, term),
    4dp-rounded top-m per doc (term-ASC ties)."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS},
w AS (SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(s.n_docs / dft.df), 4) AS tfidf
      FROM tf JOIN dft USING (term) CROSS JOIN stats s),
r AS (SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, term ASC)::BIGINT AS rank
      FROM w)
SELECT doc_id, term, rank, tfidf FROM r WHERE rank <= {_KW_TOPM}
"""


def _condensed_ap_sql() -> str:
    """Replays evaluation.condensed_ap over the BM25 run + pseudo
    qrels: unjudged docs removed, re-ranked condensed list, plain AP
    with R = judged-relevant total."""
    return f"""
WITH {_BM25_RUN_CTES},
{_QRELS_SQL},
runq AS (SELECT qid, doc_id, rank FROM ranked WHERE rank <= {TOPK}),
j AS (SELECT r.qid, r.rank,
             (qr.rel >= 1.0)::BIGINT AS is_rel
      FROM runq r JOIN qrels qr
        ON qr.qid = r.qid AND qr.docid = r.doc_id),
c AS (SELECT qid, is_rel,
             row_number() OVER (PARTITION BY qid
                 ORDER BY rank)::BIGINT AS crank
      FROM j),
cc AS (SELECT *, sum(is_rel) OVER (PARTITION BY qid ORDER BY crank
             ROWS UNBOUNDED PRECEDING) AS cumrel
       FROM c),
per AS (SELECT qid, count(*)::BIGINT AS n_judged_ret,
               sum(CASE WHEN is_rel = 1
                        THEN cumrel::DOUBLE / crank ELSE 0.0 END) AS psum
        FROM cc GROUP BY 1),
rt2 AS (SELECT qid, count(*)::BIGINT AS r FROM qrels
        WHERE rel >= 1.0 GROUP BY 1)
SELECT rt2.qid,
       coalesce(per.n_judged_ret, 0)::BIGINT AS n_judged_ret,
       round(coalesce(per.psum, 0.0) / rt2.r::DOUBLE, 4) AS ap_condensed
FROM rt2 LEFT JOIN per USING (qid)
"""


_KANON_K = 5


def _k_anonymity_sql() -> str:
    """Replays eventops.k_anonymity_report: power-of-two activity
    buckets (literal CASE), dominant type via lexicographic struct max
    (ties -> later type), combos under k flagged."""
    case = (
        "CASE "
        + " ".join(
            f"WHEN n <= {1 << i} THEN {1 << i}" for i in range(20)
        )
        + f" ELSE {1 << 20} END"
    )
    return f"""
WITH ut AS (SELECT user_id, event_type AS etype, count(*)::BIGINT AS c
            FROM events GROUP BY 1, 2),
prof AS (SELECT user_id, sum(c)::BIGINT AS n,
                (max(struct_pack(c := c, t := etype))).t AS top_type
         FROM ut GROUP BY 1),
combos AS (SELECT ({case})::BIGINT AS activity_bucket, top_type,
                  count(*)::BIGINT AS n_users
           FROM prof GROUP BY 1, 2)
SELECT activity_bucket, top_type, n_users,
       n_users < {_KANON_K} AS at_risk
FROM combos
"""


_SAT_CLICKS_SQL = """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id) AS nxt
  FROM events
)
SELECT user_id, event_id,
       (CASE WHEN nxt IS NULL THEN -1 ELSE nxt - t END)::BIGINT AS dwell_us,
       (nxt IS NULL OR nxt - t >= 30000000) AS satisfied
FROM e WHERE event_type = 'click'
"""


_BURST_T = 3


_BURST_SQL = f"""
WITH cells AS (
  SELECT user_id, epoch_us(ts) // 60000000 AS m, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
)
SELECT user_id, sum(c)::BIGINT AS n_events,
       max(c)::BIGINT AS peak_minute_events,
       sum(CASE WHEN c > {_BURST_T} THEN 1 ELSE 0 END)::BIGINT
         AS n_bursty_minutes,
       sum(CASE WHEN c > {_BURST_T} THEN 1 ELSE 0 END) > 0 AS flagged
FROM cells GROUP BY 1
"""


def _query_volume_sql() -> str:
    """Replays query_volume_curve over the derived Zipf-ish query log
    (qn = isqrt(mix(event_id) % 10000) — floor(sqrt(bigint)) is exact
    on both engines because IEEE sqrt is correctly rounded)."""
    from luc4ir_spark.functions import hashing as hx

    mx = (f"(({hx.MIX_A} * (event_id % {hx.MIX_P}) + {hx.MIX_B})"
          f" % {hx.MIX_P})")
    return f"""
WITH lg AS (
  SELECT 'q' || floor(sqrt(({mx} % 10000)))::BIGINT::VARCHAR AS query
  FROM events WHERE event_type = 'view'
),
c AS (SELECT query, count(*)::BIGINT AS n FROM lg GROUP BY 1),
tot AS (SELECT sum(n)::BIGINT AS t FROM c),
r AS (
  SELECT query, n,
         (row_number() OVER (ORDER BY n DESC, query ASC))::BIGINT
           AS rank,
         (sum(n) OVER (ORDER BY n DESC, query ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
           AS cum_n
  FROM c
)
SELECT r.rank, r.query, r.n, r.cum_n,
       round(r.cum_n * 1.0 / tot.t, 4) AS cum_share
FROM r CROSS JOIN tot
"""


_LDIV_L = 3


def _l_diversity_sql() -> str:
    """Replays eventops.l_diversity_report: the k-anonymity profile
    CTEs, then per-activity-bucket exact distinct of the dominant
    type."""
    case = (
        "CASE "
        + " ".join(
            f"WHEN n <= {1 << i} THEN {1 << i}" for i in range(20)
        )
        + f" ELSE {1 << 20} END"
    )
    return f"""
WITH ut AS (SELECT user_id, event_type AS etype, count(*)::BIGINT AS c
            FROM events GROUP BY 1, 2),
prof AS (SELECT user_id, sum(c)::BIGINT AS n,
                (max(struct_pack(c := c, t := etype))).t AS top_type
         FROM ut GROUP BY 1)
SELECT ({case})::BIGINT AS activity_bucket,
       count(*)::BIGINT AS n_users,
       count(DISTINCT top_type)::BIGINT AS n_sensitive,
       count(DISTINCT top_type) < {_LDIV_L} AS at_risk
FROM prof GROUP BY 1
"""


_SEASONALITY_SQL = """
WITH wd AS (
  SELECT ((floor(epoch_us(ts) / 86400000000) + 3) % 7 + 1)::BIGINT
           AS weekday
  FROM events
),
per AS (SELECT weekday, count(*)::BIGINT AS n_events
        FROM wd GROUP BY 1),
spine(weekday) AS (VALUES (1),(2),(3),(4),(5),(6),(7)),
f AS (SELECT s.weekday::BIGINT AS weekday,
             coalesce(p.n_events, 0)::BIGINT AS n_events
      FROM spine s LEFT JOIN per p ON p.weekday = s.weekday),
tot AS (SELECT sum(n_events)::BIGINT AS n FROM f),
chi AS (SELECT sum((7 * f.n_events - tot.n)
                 * (7 * f.n_events - tot.n))::BIGINT AS chin,
               max(tot.n)::BIGINT AS n
        FROM f CROSS JOIN tot)
SELECT f.weekday, f.n_events,
       round(f.n_events / tot.n, 4) AS share,
       round(chi.chin / (7 * chi.n), 4) AS chi2
FROM f CROSS JOIN tot CROSS JOIN chi
"""


def _ab_ztest_sql() -> str:
    """Replays eventops.conversion_ztest over the mix-parity arms:
    identical float expression shape (single integer-ratio divisions,
    IEEE sqrt) so the z statistic matches bit-for-bit."""
    from luc4ir_spark.functions import hashing as hx

    mix = (
        f"(({hx.MIX_A} * (user_id % {hx.MIX_P}) + {hx.MIX_B})"
        f" % {hx.MIX_P})"
    )
    return f"""
WITH per AS (
  SELECT user_id,
         CASE WHEN {mix} % 2 = 0 THEN 'a' ELSE 'b' END AS v,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT sum(CASE WHEN v = 'a' THEN 1 ELSE 0 END)::BIGINT AS n_a,
         sum(CASE WHEN v = 'b' THEN 1 ELSE 0 END)::BIGINT AS n_b,
         sum(CASE WHEN v = 'a' THEN c ELSE 0 END)::BIGINT AS conv_a,
         sum(CASE WHEN v = 'b' THEN c ELSE 0 END)::BIGINT AS conv_b
  FROM per
)
SELECT n_a, n_b, conv_a, conv_b,
       round(conv_a / n_a, 4) AS p_a,
       round(conv_b / n_b, 4) AS p_b,
       CASE WHEN n_a > 0 AND n_b > 0 AND conv_a + conv_b > 0
                 AND conv_a + conv_b < n_a + n_b THEN
         round((conv_a / n_a - conv_b / n_b)
               / sqrt(((conv_a + conv_b) / (n_a + n_b))
                      * (1.0 - (conv_a + conv_b) / (n_a + n_b))
                      * (1.0 / n_a + 1.0 / n_b)), 4)
       END AS z
FROM t
"""


_TCLOSE_T = (2, 25)  # t = 0.08: splits the sf0.01 classes (tvds
# 0.0737 / 0.0964) so both flag branches are exercised; the compare
# is integer cross-multiplied, so closeness to t is not a hazard


def _t_closeness_sql() -> str:
    """Replays eventops.t_closeness_report: the shared profile CTEs,
    class×global-domain grid with BIGINT |n_cv·N − N_v·g| numerators,
    tvd = one division by 2·g·N, flag by integer cross-multiplication
    at t = {num}/{den}."""
    tn, td = _TCLOSE_T
    case = (
        "CASE "
        + " ".join(
            f"WHEN n <= {1 << i} THEN {1 << i}" for i in range(20)
        )
        + f" ELSE {1 << 20} END"
    )
    return f"""
WITH ut AS (SELECT user_id, event_type AS etype, count(*)::BIGINT AS c
            FROM events GROUP BY 1, 2),
prof AS (SELECT user_id, sum(c)::BIGINT AS n,
                (max(struct_pack(c := c, t := etype))).t AS sens
         FROM ut GROUP BY 1),
cls AS MATERIALIZED (
  SELECT ({case})::BIGINT AS activity_bucket, sens FROM prof),
g AS (SELECT activity_bucket, count(*)::BIGINT AS n_users
      FROM cls GROUP BY 1),
qv AS (SELECT sens, count(*)::BIGINT AS nv FROM cls GROUP BY 1),
tot AS (SELECT count(*)::BIGINT AS nn FROM cls),
ncv AS (SELECT activity_bucket, sens, count(*)::BIGINT AS c
        FROM cls GROUP BY 1, 2),
grid AS (
  SELECT g.activity_bucket, g.n_users, tot.nn,
         abs(coalesce(ncv.c, 0) * tot.nn - qv.nv * g.n_users)
           ::BIGINT AS num
  FROM g CROSS JOIN qv CROSS JOIN tot
  LEFT JOIN ncv ON ncv.activity_bucket = g.activity_bucket
              AND ncv.sens = qv.sens),
per AS (
  SELECT activity_bucket, n_users, nn, sum(num)::BIGINT AS s
  FROM grid GROUP BY 1, 2, 3)
SELECT activity_bucket, n_users,
       round(s / (2.0 * n_users * nn), 4) AS tvd,
       s * {td} > 2 * {tn} * n_users * nn AS at_risk
FROM per
"""


_ABANDON_SQL = """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, event_type
           FROM events),
lagged AS (
  SELECT *, lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt
  FROM e
),
flags AS (
  SELECT *,
         CASE WHEN pt IS NULL OR t - pt > 1800000000 THEN 1 ELSE 0 END AS ns
  FROM lagged
),
sess AS (
  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flags
),
per AS (
  SELECT user_id, sid,
         max(CASE WHEN event_type IN ('click', 'purchase')
                  THEN 1 ELSE 0 END) AS conv
  FROM sess GROUP BY 1, 2
)
SELECT count(*)::BIGINT AS n_sessions,
       sum(conv)::BIGINT AS n_converted,
       (count(*) - sum(conv))::BIGINT AS n_abandoned,
       round((count(*) - sum(conv))::DOUBLE / count(*)::DOUBLE, 4)
         AS abandonment_rate
FROM per
"""


_INFAP_EPS = 0.00001


def _inf_ap_sql() -> str:
    """Replays evaluation.inferred_ap over the BM25 run with a
    mix-parity 50% sample of the pseudo judgments: cumulative
    judged/relevant-above windows, the no-special-case expected-
    precision form, per-query division by the sampled-relevant
    total."""
    mix = (
        "((2654435761 * ((d.doc_id + qn.qn) % 2147483647)"
        " + 2246822519) % 2147483647)"
    )
    return f"""
WITH {_BM25_RUN_CTES},
sq AS (SELECT qn.qid, d.doc_id AS docid,
              CASE WHEN (d.doc_id + qn.qn) % 6 = 0
                   THEN 1.0 ELSE 0.0 END AS rel
       FROM (SELECT DISTINCT qid,
                    CAST(substr(qid, 2) AS BIGINT) AS qn FROM q) qn
       CROSS JOIN documents d
       WHERE (d.doc_id + qn.qn) % 3 = 0 AND {mix} % 2 = 0),
runq AS (SELECT qid, doc_id, rank FROM ranked WHERE rank <= {TOPK}),
jj AS (SELECT r.qid, r.rank,
              (sq.docid IS NOT NULL)::BIGINT AS judged,
              (coalesce(sq.rel, 0.0) >= 1.0)::BIGINT AS is_rel
       FROM runq r LEFT JOIN sq
         ON sq.qid = r.qid AND sq.docid = r.doc_id),
w AS (SELECT *, coalesce(sum(judged) OVER ab, 0) AS s,
             coalesce(sum(is_rel) OVER ab, 0) AS r
      FROM jj WINDOW ab AS (PARTITION BY qid ORDER BY rank
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
pq AS (SELECT qid,
              sum(1.0 / rank + (s::DOUBLE / rank)
                  * ((r::DOUBLE + {repr(_INFAP_EPS)})
                     / (s::DOUBLE + {repr(2.0 * _INFAP_EPS)}))) AS tsum,
              count(*)::BIGINT AS n_sampled_ret
       FROM w WHERE judged = 1 AND is_rel = 1 GROUP BY 1),
rtot AS (SELECT qid, count(*)::BIGINT AS r_sampled FROM sq
         WHERE rel >= 1.0 GROUP BY 1)
SELECT rtot.qid, rtot.r_sampled,
       coalesce(pq.n_sampled_ret, 0)::BIGINT AS n_sampled_ret,
       round(coalesce(pq.tsum, 0.0) / rtot.r_sampled::DOUBLE, 4)
         AS inf_ap
FROM rtot LEFT JOIN pq USING (qid)
"""


_RELAX_MIN = 3


def _query_relaxation_sql() -> str:
    """Replays retrieval.query_relaxation_report: one matched-count
    histogram, the msm grid, largest satisfying msm else the OR
    fallback."""
    return f"""
WITH {_TOKS}, {_TF}, {_values_queries()},
qd AS (SELECT DISTINCT qid, term FROM q),
nt AS (SELECT qid, count(*)::BIGINT AS n_terms FROM qd GROUP BY 1),
mt AS (SELECT qd.qid, tf.doc_id, count(DISTINCT qd.term)::BIGINT AS nm
       FROM qd JOIN tf USING (term) GROUP BY 1, 2),
hist AS (SELECT qid, nm, count(*)::BIGINT AS cnt FROM mt GROUP BY 1, 2),
grid AS (SELECT nt.qid, nt.n_terms, g.g::BIGINT AS m
         FROM nt, unnest(range(1, nt.n_terms + 1)) AS g(g)),
hits AS (SELECT grid.qid, grid.n_terms, grid.m,
                coalesce(sum(CASE WHEN h.nm >= grid.m THEN h.cnt
                             ELSE 0 END), 0)::BIGINT AS n_hits
         FROM grid LEFT JOIN hist h ON h.qid = grid.qid
         GROUP BY 1, 2, 3)
SELECT qid, n_terms, m AS msm, (n_terms - m)::BIGINT AS level, n_hits
FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
      ORDER BY (n_hits >= {_RELAX_MIN})::INT DESC,
               CASE WHEN n_hits >= {_RELAX_MIN} THEN -m
                    ELSE m END ASC) AS rn
  FROM hits) WHERE rn = 1
"""


_HNM_NEG = 2


def _hard_negatives_sql() -> str:
    """Replays retrieval.mine_hard_negatives over the BM25 run +
    pseudo qrels: retrieved positives × the top-_HNM_NEG non-relevant
    docs per query (unjudged = non-relevant)."""
    return f"""
WITH {_BM25_RUN_CTES},
{_QRELS_SQL},
runq AS (SELECT qid, doc_id, rank FROM ranked WHERE rank <= {TOPK}),
j AS (SELECT r.qid, r.doc_id, r.rank,
             coalesce(qr.rel, 0.0) >= 1.0 AS is_pos
      FROM runq r LEFT JOIN qrels qr
        ON qr.qid = r.qid AND qr.docid = r.doc_id),
pos AS (SELECT qid, doc_id AS pos_id FROM j WHERE is_pos),
negs AS (SELECT qid, doc_id AS neg_id, neg_rank FROM (
           SELECT qid, doc_id,
                  row_number() OVER (PARTITION BY qid
                      ORDER BY rank ASC, doc_id ASC)::BIGINT AS neg_rank
           FROM j WHERE NOT is_pos) WHERE neg_rank <= {_HNM_NEG})
SELECT p.qid, p.pos_id, n.neg_id, n.neg_rank
FROM pos p JOIN negs n USING (qid)
"""


_EVENT_LIFT_SQL = """
WITH basket AS (SELECT DISTINCT user_id, event_type AS etype
                FROM events),
nu AS (SELECT count(DISTINCT user_id)::BIGINT AS n FROM basket),
pt AS (SELECT etype, count(*)::BIGINT AS n_t FROM basket GROUP BY 1),
pairs AS (
  SELECT a.etype AS type_a, b.etype AS type_b, count(*)::BIGINT AS n_ab
  FROM basket a JOIN basket b
    ON a.user_id = b.user_id AND a.etype < b.etype
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_ab,
       round(p.n_ab::DOUBLE / nu.n::DOUBLE, 4) AS support,
       round(p.n_ab::DOUBLE / na.n_t::DOUBLE, 4) AS conf_a_b,
       round((p.n_ab * nu.n)::DOUBLE / (na.n_t * nb.n_t)::DOUBLE, 4)
         AS lift
FROM pairs p
JOIN pt na ON na.etype = p.type_a
JOIN pt nb ON nb.etype = p.type_b
CROSS JOIN nu
"""


def _funnel_latency_sql() -> str:
    """Replays eventops.funnel_latency(view -> purchase): greedy-
    earliest per-user latencies in integer microseconds, exact-integer
    mean division, interpolated median."""
    return """
WITH base AS (SELECT user_id, event_type, epoch_us(ts) AS t
              FROM events),
f AS (SELECT user_id, min(t) AS t0 FROM base
      WHERE event_type = 'view' GROUP BY 1),
c AS (SELECT b.user_id, min(b.t - f.t0) AS lat
      FROM base b JOIN f USING (user_id)
      WHERE b.event_type = 'purchase' AND b.t >= f.t0 GROUP BY 1)
SELECT count(*)::BIGINT AS n_users,
       count(c.lat)::BIGINT AS n_converted,
       round(sum(c.lat)::DOUBLE / count(c.lat)::DOUBLE, 4)
         AS mean_latency_us,
       round(quantile_cont(c.lat, 0.5), 4) AS median_latency_us
FROM f LEFT JOIN c USING (user_id)
"""


_TMAX_TOPN, _BURST_MIN_DF, _BURST_TOPN = 20, 5, 20


def _term_max_contrib_sql() -> str:
    """Replays indexer.term_max_contrib: lexicographic struct-max per
    term (ties -> larger doc_id), top-n by rounded bound."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS},
c AS (
  SELECT tf.term, dft.df,
         (max(struct_pack(
            c := ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                 * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)),
            doc_id := tf.doc_id))).doc_id AS doc_id,
         round((max(struct_pack(
            c := ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                 * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)),
            doc_id := tf.doc_id))).c, 4) AS max_contrib
  FROM tf JOIN dft USING (term) JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
r AS (SELECT term, df, doc_id, max_contrib,
             row_number() OVER (ORDER BY max_contrib DESC,
                                term ASC)::BIGINT AS rank
      FROM c)
SELECT term, df, doc_id, rank, max_contrib
FROM r WHERE rank <= {_TMAX_TOPN}
"""


def _term_burstiness_sql() -> str:
    """Replays indexer.term_burstiness: cf/df mean tf and Katz repeat
    probability, df floor, top-n by rounded mean tf (term ties)."""
    return f"""
WITH {_TOKS}, {_TF},
per AS (SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf,
               sum(CASE WHEN tf >= 2 THEN 1 ELSE 0 END)::BIGINT
                 AS n_repeat
        FROM tf GROUP BY 1 HAVING count(*) >= {_BURST_MIN_DF}),
s AS (SELECT term, df, cf, n_repeat,
             round(cf::DOUBLE / df::DOUBLE, 4) AS mean_tf,
             round(n_repeat::DOUBLE / df::DOUBLE, 4) AS p_repeat
      FROM per),
r AS (SELECT *, row_number() OVER (ORDER BY mean_tf DESC,
                                   term ASC)::BIGINT AS rank
      FROM s)
SELECT term, df, cf, n_repeat, rank, mean_tf, p_repeat
FROM r WHERE rank <= {_BURST_TOPN}
"""


_COMPACT_S = 8


def _index_compact_sql() -> str:
    """Replays indexer.compact_doc_ids over the documents table:
    shard-major mix order, S-row offsets, partitioned row_number."""
    mix = "((2654435761 * (doc_id % 2147483647) + 2246822519) % 2147483647)"
    return f"""
WITH k AS (SELECT doc_id AS old_id, {mix} AS mkey,
                  {mix} % {_COMPACT_S} AS shard
           FROM documents),
c AS (SELECT shard, count(*)::BIGINT AS n FROM k GROUP BY 1),
o AS (SELECT shard,
             coalesce(sum(n) OVER (ORDER BY shard
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0)::BIGINT AS off
      FROM c)
SELECT k.old_id,
       (o.off + row_number() OVER (PARTITION BY k.shard
            ORDER BY k.mkey, k.old_id) - 1)::BIGINT AS new_id,
       k.shard::BIGINT AS shard
FROM k JOIN o USING (shard)
"""


_XQ_CANDS, _XQ_OUT, _XQ_LAM = 5, 3, 0.5


def _xquad_sql() -> str:
    """Replays feedback.xquad_rerank: per-term BM25 contributions,
    candidate-normalized P(d|q) / P(d|t), uniform query-term aspects,
    and the _XQ_OUT-step greedy unroll (4dp-rounded gains, doc ASC
    ties, coverage multiplied by (1 - P(pick|t)) after each pick)."""
    one_m_lam = repr(1.0 - _XQ_LAM)
    lam = repr(float(_XQ_LAM))
    steps, picks_sel = [], []
    for i in range(1, _XQ_OUT + 1):
        prev_cov = "cov0" if i == 1 else f"cov{i - 1}"
        excl = " ".join(
            f"AND NOT EXISTS (SELECT 1 FROM p{j} WHERE p{j}.qid = r.qid"
            f" AND p{j}.doc_id = r.doc_id)"
            for j in range(1, i)
        )
        steps.append(f"""
div{i} AS (SELECT pa.qid, pa.doc_id, sum(pa.pa * cv.c) AS d
           FROM pa JOIN {prev_cov} cv
             ON cv.qid = pa.qid AND cv.term = pa.term
           GROUP BY 1, 2),
g{i} AS (SELECT r.qid, r.doc_id,
                round({one_m_lam} * r.rel
                      + {lam} * (coalesce(d.d, 0.0) / n.nt), 4) AS g
         FROM rel r JOIN ntq n USING (qid)
         LEFT JOIN div{i} d
           ON d.qid = r.qid AND d.doc_id = r.doc_id
         WHERE 1 = 1 {excl}),
p{i} AS (SELECT qid, doc_id, g FROM (
           SELECT qid, doc_id, g,
                  row_number() OVER (PARTITION BY qid
                      ORDER BY g DESC, doc_id ASC) AS rn
           FROM g{i}) WHERE rn = 1),
cov{i} AS (SELECT cv.qid, cv.term,
                  cv.c * (1.0 - coalesce(pp.pa, 0.0)) AS c
           FROM {prev_cov} cv LEFT JOIN
             (SELECT pa.qid, pa.term, pa.pa FROM pa
              JOIN p{i} ON p{i}.qid = pa.qid
                       AND p{i}.doc_id = pa.doc_id) pp
             ON pp.qid = cv.qid AND pp.term = cv.term)""")
        picks_sel.append(
            f"SELECT qid, doc_id, {i}::BIGINT AS rank, g AS xquad"
            f" FROM p{i}"
        )
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
qd AS (SELECT DISTINCT qid, term FROM q),
pdt0 AS (
  SELECT qd.qid, qd.term, tf.doc_id,
         ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
         * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) AS sc
  FROM qd JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
),
cand AS (
  SELECT qid, doc_id, score FROM (
    SELECT qid, doc_id, sum(sc) AS score,
           row_number() OVER (PARTITION BY qid
               ORDER BY sum(sc) DESC, doc_id ASC)::BIGINT AS rank
    FROM pdt0 GROUP BY qid, doc_id) WHERE rank <= {_XQ_CANDS}
),
rel AS (SELECT c.qid, c.doc_id, c.score / z.zs AS rel
        FROM cand c JOIN (SELECT qid, sum(score) AS zs FROM cand
                          GROUP BY 1) z USING (qid)),
pdt AS (SELECT p.* FROM pdt0 p
        JOIN cand ON cand.qid = p.qid AND cand.doc_id = p.doc_id),
zt AS (SELECT qid, term, sum(sc) AS z FROM pdt GROUP BY 1, 2),
pa AS (SELECT p.qid, p.term, p.doc_id, p.sc / z.z AS pa
       FROM pdt p JOIN zt z ON z.qid = p.qid AND z.term = p.term
       WHERE z.z > 0),
ntq AS (SELECT qid, count(*)::DOUBLE AS nt FROM qd GROUP BY 1),
cov0 AS (SELECT qid, term, 1.0 AS c FROM qd),
{','.join(steps)}
{' UNION ALL '.join(picks_sel)}
"""


_PM2_CANDS, _PM2_OUT, _PM2_LAM = 5, 3, 0.5


def _pm2_sql() -> str:
    """Replays feedback.pm2_rerank: candidate-normalized per-term BM25
    contributions P(d|t) (xQuAD's pa), then the _PM2_OUT-step PM-2
    greedy unroll — Sainte-Laguë quotient qt = w/(2·seat+1) with the
    aspect argmax on the 4dp-rounded quotient (term ASC ties), doc
    score λ·qt_b·pa_b + (1−λ)·Σ_{t≠b} qt·pa rounded to 4dp before the
    doc argmax (doc ASC ties), seats bumped by the pick's normalized
    aspect mass. State CTEs are AS MATERIALIZED — each is consumed by
    2-4 downstream blocks and DuckDB would otherwise inline the chain
    exponentially (the bpe_merges lesson)."""
    one_m_lam = repr(1.0 - _PM2_LAM)
    lam = repr(float(_PM2_LAM))
    steps, picks_sel = [], []
    for i in range(1, _PM2_OUT + 1):
        prev = f"seat{i - 1}"
        excl = " ".join(
            f"AND NOT EXISTS (SELECT 1 FROM p{j} WHERE p{j}.qid = r.qid"
            f" AND p{j}.doc_id = r.doc_id)"
            for j in range(1, i)
        )
        steps.append(f"""
qt{i} AS MATERIALIZED (
  SELECT qid, term, w, seat, w / (2.0 * seat + 1.0) AS qt
  FROM {prev}),
b{i} AS MATERIALIZED (
  SELECT qid, term AS bt FROM (
    SELECT qid, term, row_number() OVER (PARTITION BY qid
        ORDER BY round(qt, 4) DESC, term ASC) AS rn
    FROM qt{i}) WHERE rn = 1),
g{i} AS (
  SELECT r.qid, r.doc_id,
         round(coalesce(sum(CASE WHEN pa.term = b.bt
               THEN {lam} * q.qt * pa.pa
               ELSE {one_m_lam} * q.qt * pa.pa END), 0.0), 4) AS g
  FROM (SELECT qid, doc_id FROM cand r WHERE 1 = 1 {excl}) r
  LEFT JOIN pa ON pa.qid = r.qid AND pa.doc_id = r.doc_id
  LEFT JOIN qt{i} q ON q.qid = pa.qid AND q.term = pa.term
  LEFT JOIN b{i} b ON b.qid = r.qid
  GROUP BY r.qid, r.doc_id),
p{i} AS MATERIALIZED (
  SELECT qid, doc_id, g FROM (
    SELECT qid, doc_id, g,
           row_number() OVER (PARTITION BY qid
               ORDER BY g DESC, doc_id ASC) AS rn
    FROM g{i}) WHERE rn = 1),
seat{i} AS MATERIALIZED (
  SELECT s.qid, s.term, s.w,
         s.seat + CASE WHEN z.zp > 0
                  THEN coalesce(pp.pa, 0.0) / z.zp
                  ELSE 0.0 END AS seat
  FROM {prev} s
  LEFT JOIN (SELECT pa.qid, pa.term, pa.pa FROM pa
             JOIN p{i} ON p{i}.qid = pa.qid
                      AND p{i}.doc_id = pa.doc_id) pp
    ON pp.qid = s.qid AND pp.term = s.term
  LEFT JOIN (SELECT pa.qid, sum(pa.pa) AS zp FROM pa
             JOIN p{i} ON p{i}.qid = pa.qid
                      AND p{i}.doc_id = pa.doc_id
             GROUP BY 1) z
    ON z.qid = s.qid)""")
        picks_sel.append(
            f"SELECT qid, doc_id, {i}::BIGINT AS rank, g AS pm2"
            f" FROM p{i}"
        )
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
qd AS (SELECT DISTINCT qid, term FROM q),
pdt0 AS (
  SELECT qd.qid, qd.term, tf.doc_id,
         ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
         * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) AS sc
  FROM qd JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
),
cand AS MATERIALIZED (
  SELECT qid, doc_id, score FROM (
    SELECT qid, doc_id, sum(sc) AS score,
           row_number() OVER (PARTITION BY qid
               ORDER BY sum(sc) DESC, doc_id ASC)::BIGINT AS rank
    FROM pdt0 GROUP BY qid, doc_id) WHERE rank <= {_PM2_CANDS}
),
pdt AS (SELECT p.* FROM pdt0 p
        JOIN cand ON cand.qid = p.qid AND cand.doc_id = p.doc_id),
zt AS (SELECT qid, term, sum(sc) AS z FROM pdt GROUP BY 1, 2),
pa AS MATERIALIZED (
  SELECT p.qid, p.term, p.doc_id, p.sc / z.z AS pa
  FROM pdt p JOIN zt z ON z.qid = p.qid AND z.term = p.term
  WHERE z.z > 0),
ntq AS (SELECT qid, count(*)::DOUBLE AS nt FROM qd GROUP BY 1),
seat0 AS MATERIALIZED (
  SELECT qd.qid, qd.term, 1.0 / n.nt AS w, 0.0 AS seat
  FROM qd JOIN ntq n USING (qid)),
{','.join(steps)}
{' UNION ALL '.join(picks_sel)}
"""


_HEAPS_K = 5
_ZIPF_TOPN = 20


def _zipf_sql() -> str:
    """Replays textstats.zipf_law: cf ranks (cf DESC, term ASC) and
    the lag-based local exponent ln(cf_k/cf_{k-1})/ln(k/(k-1))."""
    return f"""
WITH {_TOKS},
cf AS (SELECT term, count(*)::BIGINT AS cf FROM toks GROUP BY 1),
top AS (
  SELECT term, cf,
         row_number() OVER (ORDER BY cf DESC, term ASC)::BIGINT AS rank
  FROM cf QUALIFY rank <= {_ZIPF_TOPN}
)
SELECT rank, term, cf,
       round(ln(cf::DOUBLE / lag(cf) OVER (ORDER BY rank))
             / ln(rank::DOUBLE / lag(rank) OVER (ORDER BY rank)),
             4) AS slope
FROM top
"""


def _heaps_sql() -> str:
    """Replays textstats.heaps_law: first-occurrence vocabulary
    counting against the max_id·k/K checkpoint grid, lag-based local
    Heaps exponent with the equal-tokens guard."""
    return f"""
WITH {_TOKS}, {_DL},
fo AS (SELECT term, min(doc_id) AS fo FROM toks GROUP BY 1),
mx AS (SELECT max(doc_id) AS mid FROM dl),
grid AS (SELECT g.g::BIGINT AS checkpoint,
                (mx.mid * g.g) // {_HEAPS_K} AS max_doc_id
         FROM (SELECT unnest(range(1, {_HEAPS_K + 1})) AS g) g
         CROSS JOIN mx),
v AS (SELECT grid.checkpoint, grid.max_doc_id,
             count(*)::BIGINT AS vocab
      FROM fo CROSS JOIN grid WHERE fo.fo <= grid.max_doc_id
      GROUP BY 1, 2),
t AS (SELECT grid.checkpoint, grid.max_doc_id,
             sum(dl.doc_len)::BIGINT AS n_tokens
      FROM dl CROSS JOIN grid WHERE dl.doc_id <= grid.max_doc_id
      GROUP BY 1, 2),
c AS (SELECT v.checkpoint, v.max_doc_id, t.n_tokens, v.vocab,
             lag(v.vocab) OVER wd AS pv,
             lag(t.n_tokens) OVER wd AS pt
      FROM v JOIN t USING (checkpoint, max_doc_id)
      WINDOW wd AS (ORDER BY v.checkpoint))
SELECT checkpoint, max_doc_id, n_tokens, vocab,
       round(CASE WHEN pt IS NOT NULL AND n_tokens <> pt
             THEN ln(vocab::DOUBLE / pv::DOUBLE)
                  / ln(n_tokens::DOUBLE / pt::DOUBLE) END, 4) AS beta
FROM c
"""


def _rfm_sql() -> str:
    """Replays eventops.rfm_report: per-user day/count/cents rollup,
    exact interpolated quintile boundaries (quantile_cont == Spark
    percentile on integers), strict-comparison scores, rfm digit."""
    qs = [0.2, 0.4, 0.6, 0.8]
    bcols = ", ".join(
        f"quantile_cont({m}, {q}) AS {m[0]}{i + 1}"
        for m in ("recency_days", "frequency", "monetary_cents")
        for i, q in enumerate(qs)
    )

    def sc(col: str, p: str, op: str) -> str:
        return "(1 + " + " + ".join(
            f"({col} {op} b.{p}{i + 1})::BIGINT" for i in range(4)
        ) + ")::BIGINT"

    return f"""
WITH base AS (
  SELECT user_id,
         date_diff('day', TIMESTAMP '1970-01-01 00:00:00',
                   date_trunc('day', ts))::BIGINT AS d,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
mx AS (SELECT max(d) AS maxd FROM base),
pu AS (SELECT user_id, (mx.maxd - max(d))::BIGINT AS recency_days,
              count(*)::BIGINT AS frequency,
              sum(cents)::BIGINT AS monetary_cents
       FROM base CROSS JOIN mx GROUP BY user_id, mx.maxd),
b AS (SELECT {bcols} FROM pu),
s AS (SELECT pu.user_id, pu.recency_days, pu.frequency,
             pu.monetary_cents,
             {sc('recency_days', 'r', '<')} AS r_score,
             {sc('frequency', 'f', '>')} AS f_score,
             {sc('monetary_cents', 'm', '>')} AS m_score
      FROM pu CROSS JOIN b)
SELECT user_id, recency_days, frequency, monetary_cents,
       r_score, f_score, m_score,
       (r_score * 100 + f_score * 10 + m_score)::BIGINT AS rfm
FROM s
"""


_ANOM_W, _ANOM_Z, _ANOM_MIN = 7, 2.0, 4


def _event_anomaly_sql() -> str:
    """Replays eventops.event_anomaly: trailing-window mean/stddev
    baseline excluding the current day, min-history + positive-
    variance guards, |z| > threshold flag (verified boundary-safe at
    sf0.01: nearest |z| is 0.015 from the 2.0 cut)."""
    return f"""
WITH daily AS (
  SELECT event_type,
         date_diff('day', TIMESTAMP '1970-01-01 00:00:00',
                   date_trunc('day', ts))::BIGINT AS day_idx,
         count(*)::BIGINT AS x
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT event_type, day_idx, x,
         avg(x) OVER wd AS m, stddev_samp(x) OVER wd AS s,
         count(x) OVER wd AS c
  FROM daily
  WINDOW wd AS (PARTITION BY event_type ORDER BY day_idx
                ROWS BETWEEN {_ANOM_W} PRECEDING AND 1 PRECEDING)
)
SELECT event_type, (day_idx * 86400000000)::BIGINT AS day_us,
       x AS n_events, round((x - m) / s, 4) AS z
FROM w
WHERE c >= {_ANOM_MIN} AND s IS NOT NULL AND s > 0
  AND abs((x - m) / s) > {repr(float(_ANOM_Z))}
"""


_PPR_SQL = """
WITH nodes AS (SELECT doc_id AS id,
               CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END AS seed
               FROM documents),
nn AS (SELECT count(*)::BIGINT AS n, sum(seed)::BIGINT AS ns FROM nodes),
edges AS (
  SELECT id AS src, (id * 7 + 11) % nn.n AS dst FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 13 + 5) % nn.n FROM nodes CROSS JOIN nn
  UNION ALL
  SELECT id, (id * 3 + 1) % nn.n FROM nodes CROSS JOIN nn
),
a0 AS (SELECT id, seed::BIGINT AS a FROM nodes),
c1 AS (SELECT e.dst AS id, sum(a.a)::BIGINT AS s
       FROM edges e JOIN a0 a ON e.src = a.id GROUP BY 1),
a1 AS (SELECT nd.id, (9 * nd.seed + 17 * coalesce(c.s, 0))::BIGINT AS a
       FROM nodes nd LEFT JOIN c1 c USING (id)),
c2 AS (SELECT e.dst AS id, sum(a.a)::BIGINT AS s
       FROM edges e JOIN a1 a ON e.src = a.id GROUP BY 1),
a2 AS (SELECT nd.id, (540 * nd.seed + 17 * coalesce(c.s, 0))::BIGINT AS a
       FROM nodes nd LEFT JOIN c2 c USING (id)),
c3 AS (SELECT e.dst AS id, sum(a.a)::BIGINT AS s
       FROM edges e JOIN a2 a ON e.src = a.id GROUP BY 1),
a3 AS (SELECT nd.id, (32400 * nd.seed + 17 * coalesce(c.s, 0))::BIGINT AS a
       FROM nodes nd LEFT JOIN c3 c USING (id))
SELECT a3.id AS doc_id, a3.a AS pr_num,
       round(a3.a / (nn.ns * 216000.0), 4) AS pr
FROM a3 CROSS JOIN nn
"""


def _z_terms(col: str, d: int, n: int, bits: int = 8) -> str:
    """SQL replay of plans.layout.zorder_value for one dimension:
    bit b of `col` lands at position b*n + d."""
    return " + ".join(
        f"(CASE WHEN ({col} & {1 << b}) <> 0"
        f" THEN {1 << (b * n + d)} ELSE 0 END)"
        for b in range(bits)
    )


_ZORDER_SQL = f"""
WITH base AS (
  SELECT event_id,
         (user_id & 255)::BIGINT AS ub,
         ((epoch_us(ts) // 3600000000) % 256)::BIGINT AS hb
  FROM events
)
SELECT event_id, ub, hb,
       ({_z_terms("ub", 0, 2)} + {_z_terms("hb", 1, 2)})::BIGINT AS z
FROM base
"""


_RPREC_SQL = f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id, s.n_docs, s.avgdl
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank
  FROM scored
),
run AS (SELECT qid, doc_id, rank FROM ranked WHERE rank <= {TOPK}),
{_QRELS_SQL},
joined AS (
  SELECT r.qid, r.rank,
         CASE WHEN coalesce(qr.rel, 0.0) >= 1.0 THEN 1.0 ELSE 0.0 END AS is_rel
  FROM run r LEFT JOIN qrels qr
    ON r.qid = qr.qid AND r.doc_id = CAST(qr.docid AS BIGINT)
),
totals AS (SELECT qid, count(*)::BIGINT AS n_rel FROM qrels WHERE rel >= 1.0 GROUP BY qid),
per AS (
  SELECT j.qid, coalesce(t.n_rel, 0) AS n_rel,
         CAST(sum(CASE WHEN j.rank <= coalesce(t.n_rel, 0)
                       THEN j.is_rel ELSE 0.0 END) AS BIGINT) AS hits
  FROM joined j LEFT JOIN totals t USING (qid)
  GROUP BY 1, 2
)
SELECT qid, n_rel,
       round(CASE WHEN n_rel > 0 THEN hits / CAST(n_rel AS DOUBLE)
                  ELSE 0.0 END, 4) AS rprec
FROM per
"""


FDBK_DOCS = 3  # feedback depth for the oracle-gated RM/KL queries

_BM25_RUN_CTES = f"""{_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id, s.n_docs, s.avgdl
),
ranked AS (
  SELECT qid, doc_id, s_raw AS score,
         row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank
  FROM scored
),
topm AS (SELECT qid, doc_id, score FROM ranked WHERE rank <= {FDBK_DOCS}),
sims AS (SELECT qid, sum(score) AS sum_sim FROM topm GROUP BY qid),
rm_raw AS (
  SELECT t.qid, tf.term,
         sum( (tf.tf / dl.doc_len) * t.score / s.sum_sim ) AS wt_raw
  FROM topm t
  JOIN tf ON tf.doc_id = t.doc_id
  JOIN dl ON dl.doc_id = t.doc_id
  JOIN sims s ON s.qid = t.qid
  GROUP BY 1, 2
),
rm_z AS (SELECT qid, sum(wt_raw) AS z FROM rm_raw GROUP BY qid),
rm AS (
  SELECT r.qid, r.term, r.wt_raw / z.z AS wt
  FROM rm_raw r JOIN rm_z z USING (qid)
)"""

_RM_SQL = f"""
WITH {_BM25_RUN_CTES}
SELECT qid, term, round(wt, 4) AS wt FROM rm
"""

RM_IID_LAM = 0.6  # exercise BOTH mixture terms (lam=1 hides the df part)

_RM_IID_SQL = f"""
WITH {_BM25_RUN_CTES},
dt AS (
  SELECT t.qid, tf.term, tf.doc_id, tf.tf
  FROM topm t JOIN tf ON tf.doc_id = t.doc_id
),
perq AS (
  SELECT qid, sum(tf) AS sum_tf_pool, count(*)::DOUBLE AS sum_df
  FROM dt GROUP BY 1
),
dftop AS (
  SELECT qid, term, count(DISTINCT doc_id)::DOUBLE AS df_top,
         sum(tf)::DOUBLE AS tf_pool
  FROM dt GROUP BY 1, 2
),
raw AS (
  SELECT d.qid, d.term,
         {RM_IID_LAM} * d.tf_pool / p.sum_tf_pool
         + {1.0 - RM_IID_LAM} * d.df_top / p.sum_df AS wt_raw
  FROM dftop d JOIN perq p USING (qid)
),
z AS (SELECT qid, sum(wt_raw) AS z FROM raw GROUP BY 1)
SELECT r.qid, r.term, round(r.wt_raw / z.z, 4) AS wt
FROM raw r JOIN z USING (qid)
"""

_RM3_M, _RM3_LAM = 5, 0.5

# RM3: truncate rm to top-_RM3_M (4dp-rounded wt DESC, term ASC — the
# kept set must be engine-stable), renormalize, interpolate with the
# original query MLE over the union vocabulary
_RM3_SQL = f"""
WITH {{ctes}},
tm AS (
  SELECT qid, term, wt,
         row_number() OVER (PARTITION BY qid
             ORDER BY round(wt, 4) DESC, term ASC) AS rn
  FROM rm
),
kept AS (SELECT qid, term, wt FROM tm WHERE rn <= {_RM3_M}),
z2 AS (SELECT qid, sum(wt) AS z FROM kept GROUP BY 1),
prm AS (SELECT k.qid, k.term, k.wt / z2.z AS p_rm
        FROM kept k JOIN z2 USING (qid)),
qs AS (SELECT qid, count(*)::DOUBLE AS nq FROM q GROUP BY 1),
porig AS (SELECT q.qid, q.term, 1.0 / qs.nq AS p_q
          FROM q JOIN qs USING (qid)),
u AS (
  SELECT coalesce(a.qid, b.qid) AS qid,
         coalesce(a.term, b.term) AS term,
         coalesce(a.p_q, 0.0) AS p_q, coalesce(b.p_rm, 0.0) AS p_rm
  FROM porig a FULL OUTER JOIN prm b
    ON a.qid = b.qid AND a.term = b.term
)
SELECT qid, term,
       round({_RM3_LAM} * p_q + {1.0 - _RM3_LAM} * p_rm, 4) AS weight
FROM u
"""

_ROC_A, _ROC_B = 1.0, 0.75

# Rocchio: tf-idf centroid of the topm pool, truncated on the 4dp
# grid, alpha*q + beta*centroid over the union vocabulary
_ROCCHIO_SQL = f"""
WITH {{ctes}},
nrel AS (SELECT qid, count(*)::DOUBLE AS n_rel FROM topm GROUP BY 1),
dtv AS (
  SELECT t.qid, tf.term,
         sum(tf.tf * ln(s.n_docs * 1.0 / dft.df)) AS sw
  FROM topm t JOIN tf ON tf.doc_id = t.doc_id
  JOIN dft USING (term) CROSS JOIN stats s
  GROUP BY 1, 2
),
cent AS (
  SELECT d.qid, d.term, d.sw / n.n_rel AS cent
  FROM dtv d JOIN nrel n USING (qid)
),
tm2 AS (
  SELECT qid, term, cent,
         row_number() OVER (PARTITION BY qid
             ORDER BY round(cent, 4) DESC, term ASC) AS rn
  FROM cent
),
kept AS (SELECT qid, term, cent FROM tm2 WHERE rn <= {_RM3_M}),
u AS (
  SELECT coalesce(a.qid, b.qid) AS qid,
         coalesce(a.term, b.term) AS term,
         coalesce(a.qw, 0.0) AS qw, coalesce(b.cent, 0.0) AS cent
  FROM (SELECT qid, term, 1.0 AS qw FROM q) a
  FULL OUTER JOIN kept b ON a.qid = b.qid AND a.term = b.term
)
SELECT qid, term,
       round({_ROC_A} * qw + {_ROC_B} * cent, 4) AS weight
FROM u
"""

_CLARITY_SQL = f"""
WITH {_BM25_RUN_CTES}
SELECT rm.qid,
       round(sum(rm.wt * ln(rm.wt / (dft.cf / s.total_tokens))), 4)
       AS clarity
FROM rm JOIN dft USING (term) CROSS JOIN stats s
GROUP BY 1
"""

_JSDIV_SQL = f"""
WITH {_BM25_RUN_CTES},
qs AS (SELECT DISTINCT qid FROM rm),
pairs AS (SELECT a.qid, b.qid AS qid_b FROM qs a CROSS JOIN qs b),
af AS (SELECT p.qid, p.qid_b, rm.term, rm.wt AS pa
       FROM pairs p JOIN rm ON rm.qid = p.qid),
bf AS (SELECT p.qid, p.qid_b, rm.term, rm.wt AS pb
       FROM pairs p JOIN rm ON rm.qid = p.qid_b),
merged AS (
  SELECT coalesce(af.qid, bf.qid) AS qid,
         coalesce(af.qid_b, bf.qid_b) AS qid_b,
         coalesce(af.pa, 0.0) AS pa0, coalesce(bf.pb, 0.0) AS pb0
  FROM af FULL JOIN bf
    ON af.qid = bf.qid AND af.qid_b = bf.qid_b AND af.term = bf.term
)
SELECT qid, qid_b,
       round((sum(CASE WHEN pa0 > 0
                       THEN pa0 * ln(pa0 / ((pa0 + pb0) / 2)) ELSE 0 END)
            + sum(CASE WHEN pb0 > 0
                       THEN pb0 * ln(pb0 / ((pa0 + pb0) / 2)) ELSE 0 END))
             / 2, 4) AS js_divergence
FROM merged GROUP BY 1, 2
"""

_HYPERBOLIC_SQL = f"""
WITH {_BM25_RUN_CTES},
dvec AS (
  SELECT t.qid, t.doc_id, tf.term, tf.tf * 1.0 / dl.doc_len AS p
  FROM topm t
  JOIN tf ON tf.doc_id = t.doc_id
  JOIN dl ON dl.doc_id = t.doc_id
),
qnorm AS (SELECT qid, sum(wt * wt) AS q2 FROM rm GROUP BY 1),
dnorm AS (SELECT qid, doc_id, sum(p * p) AS d2 FROM dvec GROUP BY 1, 2),
ip AS (
  SELECT d.qid, d.doc_id, sum(d.p * rm.wt) AS ip
  FROM dvec d JOIN rm ON rm.qid = d.qid AND rm.term = d.term
  GROUP BY 1, 2
),
inner_ AS (
  SELECT dn.qid, dn.doc_id,
         greatest(sqrt(1 + qn.q2) * sqrt(1 + dn.d2)
                  - coalesce(i.ip, 0.0), 1.0) AS x
  FROM dnorm dn
  JOIN qnorm qn USING (qid)
  LEFT JOIN ip i ON i.qid = dn.qid AND i.doc_id = dn.doc_id
),
-- DuckDB has no acosh; ln(x + sqrt(x^2 - 1)) is the identity
hyp AS (
  SELECT qid, doc_id, ln(x + sqrt(x * x - 1.0)) AS dist FROM inner_
)
SELECT qid, doc_id,
       row_number() OVER (PARTITION BY qid
                          ORDER BY dist ASC, doc_id ASC)::BIGINT AS rank,
       round(dist, 4) AS score
FROM hyp
"""

# boosted queries (Q3): explicit per-term weights, OR semantics
WEIGHTED_QUERIES: list[tuple[str, str, float]] = [
    ("w1", "spark", 2.0), ("w1", "join", 0.5),
    ("w2", "hash", 3.0), ("w2", "table", 1.0), ("w2", "merge", 0.25),
]


def _values_weighted() -> str:
    rows = ", ".join(
        f"('{q}', '{t}', {w})" for q, t, w in WEIGHTED_QUERIES
    )
    return f"q(qid, term, w) AS (VALUES {rows})"


_BM25_WEIGHTED_SQL = f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_weighted()},
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( q.w * ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank,
         round(s_raw, 4) AS score
  FROM scored
)
SELECT qid, doc_id, rank, score FROM ranked WHERE rank <= {TOPK}
"""

# word-bigram shingle jaccard: positions via unnest(range(...)) (DuckDB
# has no WITH ORDINALITY; the range index replays F.sequence/F.slice).
# Candidate generation models the engine's df cap (shingles with df >
# DEFAULT_MAX_SHINGLE_DF propose no candidates; values verified over the
# FULL sets), so the gate equivalence holds at any corpus scale, not
# just while every shingle df stays under the cap.
BIGRAM_JACCARD_T = 0.8


def _jaccard_capped_sql(
    sh_cte: str, threshold: float, measure: str = "jaccard"
) -> str:
    """Shared candidate-cap + full-verify similarity SQL over a CTE
    chain ending in sh(doc_id, shingle) — replays dedup.jaccard_pairs
    (measure='jaccard') or dedup.containment_pairs
    (measure='containment', overlap coefficient) with the default
    max_shingle_df exactly."""
    if measure == "containment":
        expr = "i.common / least(sa.sz, sb.sz)::DOUBLE"
    else:
        expr = "i.common / (sa.sz + sb.sz - i.common)::DOUBLE"
    return f"""
{sh_cte},
sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY 1),
dfc AS (SELECT shingle, count(*)::BIGINT AS sdf FROM sh GROUP BY 1),
csh AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN dfc USING (shingle)
        WHERE dfc.sdf <= {dd.DEFAULT_MAX_SHINGLE_DF}),
cands AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM csh x JOIN csh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
),
-- verification over the 60-bit hashed shingle-id sets (what the
-- engine's array_intersect runs on); sizes stay shingle counts
dsid AS (SELECT DISTINCT doc_id,
                ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS sid
         FROM sh),
inter AS (
  SELECT c.a, c.b, count(*)::BIGINT AS common
  FROM cands c
  JOIN dsid x ON x.doc_id = c.a
  JOIN dsid y ON y.doc_id = c.b AND y.sid = x.sid
  GROUP BY 1, 2
)
SELECT i.a, i.b,
       round({expr}, 4) AS {measure}
FROM inter i JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
WHERE {expr} >= {threshold}
"""


_JACCARD_BIGRAM_SQL = _jaccard_capped_sql(
    """WITH lists AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
         '[^a-z0-9]+'), x -> x <> '') AS l
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, l[i.i + 1] || ' ' || l[i.i + 2] AS shingle
  FROM lists, unnest(range(greatest(len(l) - 1, 0))) AS i(i)
)""",
    BIGRAM_JACCARD_T,
)

# eval-set decontamination: word-trigram shingles (same range-unnest
# recipe as the bigram CTE above), eval side = docs with doc_id % 19
# == 0, distinct-shingle totals for EVERY doc (short docs keep a row
# with total 0 — Spark's explode_outer twin)
_DECONTAM_SQL = """
WITH lists AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
         '[^a-z0-9]+'), x -> x <> '') AS l
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         l[i.i + 1] || ' ' || l[i.i + 2] || ' ' || l[i.i + 3] AS shingle
  FROM lists, unnest(range(greatest(len(l) - 2, 0))) AS i(i)
),
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 19 = 0),
tot AS (
  SELECT l.doc_id, coalesce(c.n, 0)::BIGINT AS total_shingles
  FROM lists l LEFT JOIN (
    SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY 1
  ) c USING (doc_id)
),
m AS (
  SELECT sh.doc_id, count(*)::BIGINT AS matched_shingles
  FROM sh JOIN ev USING (shingle) GROUP BY 1
)
SELECT t.doc_id, t.total_shingles,
       coalesce(m.matched_shingles, 0)::BIGINT AS matched_shingles,
       CASE WHEN t.total_shingles > 0
            THEN round(coalesce(m.matched_shingles, 0)
                       / t.total_shingles::DOUBLE, 4)
            ELSE 0.0 END AS contamination
FROM tot t LEFT JOIN m USING (doc_id)
"""

_KL_SQL = f"""
WITH {_BM25_RUN_CTES},
kl AS (
  SELECT rm.qid, t.doc_id,
         sum( rm.wt * ln(rm.wt / greatest(
             coalesce(tf2.tf / dl2.doc_len, 0.0), 0.0001)) ) AS kl
  FROM rm
  JOIN topm t ON rm.qid = t.qid
  JOIN dl dl2 ON dl2.doc_id = t.doc_id
  LEFT JOIN tf tf2 ON tf2.term = rm.term AND tf2.doc_id = t.doc_id
  GROUP BY 1, 2
)
SELECT qid, doc_id,
       row_number() OVER (PARTITION BY qid ORDER BY kl ASC, doc_id ASC)::BIGINT AS rank,
       round(kl, 4) AS score
FROM kl
"""

# Q5: RLM query expansion — ALL RLM terms (originals included) weighted
# wt * ln(N/df); the normalizer z sums over that full set, originals are
# skipped only at selection (matching RelevanceModelIId.java:164-235,
# which accumulates the norm before filtering); top-n non-original terms
# get fb_weight * wnorm, originals (1 - fb_weight) / |q|
# (feedback.py::expand_query)
NUM_EXP_TERMS = 5
FB_WEIGHT = 0.2

_EXPAND_SQL = f"""
WITH {_BM25_RUN_CTES},
orig AS (SELECT DISTINCT qid, term FROM q),
allt AS (
  SELECT rm.qid, rm.term,
         rm.wt * ln(s.n_docs * 1.0 / dft.df) AS wtidf
  FROM rm JOIN dft USING (term) CROSS JOIN stats s
),
z AS (SELECT qid, sum(wtidf) AS z FROM allt GROUP BY 1),
cand AS (
  SELECT a.* FROM allt a
  WHERE NOT EXISTS (SELECT 1 FROM orig o
                    WHERE o.qid = a.qid AND o.term = a.term)
),
newt AS (
  SELECT qid, term, {FB_WEIGHT} * wnorm AS weight FROM (
    SELECT c.qid, c.term, c.wtidf / z.z AS wnorm,
           row_number() OVER (PARTITION BY c.qid
                              ORDER BY c.wtidf / z.z DESC, c.term ASC) AS rn
    FROM cand c JOIN z USING (qid)) t
  WHERE rn <= {NUM_EXP_TERMS}
),
nq AS (SELECT qid, count(*)::DOUBLE AS nq FROM orig GROUP BY 1),
ow AS (SELECT o.qid, o.term, {1.0 - FB_WEIGHT} / nq.nq AS weight
       FROM orig o JOIN nq USING (qid))
SELECT qid, term, round(weight, 4) AS weight
FROM (SELECT * FROM ow UNION ALL SELECT * FROM newt)
"""

# F9: full feedback flow, rerank mode — the KL-reranked head (top
# FDBK_DOCS docs, ascending KL) spliced ahead of the untouched
# first-pass tail (retriever/TrecDocRetriever.java:181-258)
_FDBK_RERANK_SQL = f"""
WITH {_BM25_RUN_CTES},
kl AS (
  SELECT rm.qid, t.doc_id,
         sum( rm.wt * ln(rm.wt / greatest(
             coalesce(tf2.tf / dl2.doc_len, 0.0), 0.0001)) ) AS kl
  FROM rm
  JOIN topm t ON rm.qid = t.qid
  JOIN dl dl2 ON dl2.doc_id = t.doc_id
  LEFT JOIN tf tf2 ON tf2.term = rm.term AND tf2.doc_id = t.doc_id
  GROUP BY 1, 2
),
head AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY kl ASC, doc_id ASC)::BIGINT AS rank,
         round(kl, 4) AS score
  FROM kl
),
tail AS (
  SELECT qid, doc_id, rank, round(score, 4) AS score
  FROM ranked WHERE rank > {FDBK_DOCS} AND rank <= {TOPK}
)
SELECT qid, doc_id, rank, score FROM head
UNION ALL SELECT qid, doc_id, rank, score FROM tail
"""

# F5: greedy diversity rerank over the top-FDBK_DOCS pool, unrolled —
# the engine's MMR-style gain (score / (1 + cosine(doc, pool)); see
# feedback.diversity_rerank for how it relates to
# DiversityReranker.java:66-141). With 3 docs the greedy loop
# has exactly one non-trivial decision: pick1 is the rank-1 doc (empty
# pool => gain = retrieval score, maximized at rank 1), pick2 maximizes
# score / (1 + max(cos(doc, pick1), 0)), pick3 is the remainder; final
# score is 1/rank (the reference overwrites scores at :137).
_DIVERSITY_SQL = f"""
WITH {_BM25_RUN_CTES},
tv AS (SELECT t.qid, tf.doc_id, tf.term, tf.tf * 1.0 AS tf
       FROM topm t JOIN tf ON tf.doc_id = t.doc_id),
nrm AS (SELECT qid, doc_id, sqrt(sum(tf * tf)) AS n FROM tv GROUP BY 1, 2),
r3 AS (SELECT qid, doc_id, score, rank FROM ranked WHERE rank <= {FDBK_DOCS}),
p1 AS (SELECT qid, doc_id FROM r3 WHERE rank = 1),
cos1 AS (
  SELECT a.qid, a.doc_id, sum(a.tf * b.tf) / (na.n * nb.n) AS c
  FROM tv a
  JOIN p1 ON p1.qid = a.qid AND a.doc_id <> p1.doc_id
  JOIN tv b ON b.qid = a.qid AND b.doc_id = p1.doc_id AND b.term = a.term
  JOIN nrm na ON na.qid = a.qid AND na.doc_id = a.doc_id
  JOIN nrm nb ON nb.qid = a.qid AND nb.doc_id = p1.doc_id
  GROUP BY a.qid, a.doc_id, na.n, nb.n
),
gain2 AS (
  SELECT r.qid, r.doc_id, r.rank,
         r.score / (1.0 + greatest(coalesce(c1.c, 0.0), 0.0)) AS g
  FROM r3 r
  JOIN p1 ON p1.qid = r.qid AND r.doc_id <> p1.doc_id
  LEFT JOIN cos1 c1 ON c1.qid = r.qid AND c1.doc_id = r.doc_id
),
p2 AS (
  SELECT qid, doc_id FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY g DESC, rank ASC) AS rn
    FROM gain2) t WHERE rn = 1
),
p3 AS (
  SELECT r.qid, r.doc_id FROM r3 r
  JOIN p1 ON p1.qid = r.qid
  JOIN p2 ON p2.qid = r.qid
  WHERE r.doc_id <> p1.doc_id AND r.doc_id <> p2.doc_id
),
ordered AS (
  SELECT qid, doc_id, 1::BIGINT AS rank FROM p1
  UNION ALL SELECT qid, doc_id, 2::BIGINT AS rank FROM p2
  UNION ALL SELECT qid, doc_id, 3::BIGINT AS rank FROM p3
)
SELECT qid, doc_id, rank, round(1.0 / rank, 4) AS score FROM ordered
"""


# --------------------------------------------- LM similarity oracle SQL

MU = 2000.0
LAM = 0.4


def _lm_sql(kind: str) -> str:
    if kind == "lmdir":
        term_score = (
            f"greatest(ln(1.0 + tf.tf / ({MU} * dft.cf / s.total_tokens))"
            f" + ln({MU} / (dl.doc_len + {MU})), 0.0)"
        )
    else:  # lmjm
        term_score = (
            f"ln(1.0 + ({(1.0 - LAM) / LAM}) * (tf.tf * 1.0 / dl.doc_len)"
            f" / (dft.cf * 1.0 / s.total_tokens))"
        )
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
scored AS (
  SELECT q.qid, tf.doc_id, sum({term_score}) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank,
         round(s_raw, 4) AS score
  FROM scored
)
SELECT qid, doc_id, rank, score FROM ranked WHERE rank <= {TOPK}
"""


# ------------------------------ DFR / IB / F2EXP similarity oracle SQL
# log2 is spelled ln(x)/ln(2.0) on BOTH engines (retrieval._per_posting_score
# does the same) so the float64 arithmetic shape is identical.


def _sim2_sql(kind: str) -> str:
    tfn = "tf.tf * ln(1.0 + s.avgdl / dl.doc_len) / ln(2.0)"
    if kind == "dfr_inl2":
        score = (
            "tfn / (tfn + 1.0)"
            " * (ln((n_docs + 1.0) / (df + 0.5)) / ln(2.0))"
        )
    elif kind == "ib_ll":
        score = "ln(1.0 + tfn / ((df + 1.0) / (n_docs + 1.0)))"
    elif kind == "boolean":
        # BooleanSimilarity: 1.0 per matched (weight-1) query term
        score = "1.0"
    elif kind == "spl":
        # IB SPL: lambda = (df+1)/(N+1) with Lucene's ==1 -> 0.99
        # guard on the COMPUTED double (matches the Spark branch)
        lam_spl = (
            "(CASE WHEN (df + 1.0) / (n_docs + 1.0) = 1.0 THEN 0.99"
            " ELSE (df + 1.0) / (n_docs + 1.0) END)"
        )
        score = (
            f"-ln((pow({lam_spl}, tfn / (tfn + 1.0)) - {lam_spl})"
            f" / (1.0 - {lam_spl}))"
        )
    elif kind == "f2exp":
        tfn = (
            "tf.tf / (tf.tf + 0.5 + 0.5 * dl.doc_len / s.avgdl)"
            " * pow((s.n_docs + 1.0) / dft.df, 0.35)"
        )
        score = "tfn"
    elif kind == "pl2":
        # PL2: lambda = cf/N; numerator terms in the SAME order as
        # retrieval._per_posting_score (IEEE addition order matters);
        # 2*pi emitted via repr so both engines get the same double
        two_pi = repr(2.0 * math.pi)
        score = (
            "(tfn * ln(tfn / lam) / ln(2.0)"
            " + (lam + 1.0 / (12.0 * tfn) - tfn) / ln(2.0)"
            f" + 0.5 * ln({two_pi} * tfn) / ln(2.0))"
            " / (tfn + 1.0)"
        )
    elif kind == "pivoted":
        # pivoted length normalization (Singhal SIGIR'96): slope 0.2;
        # 1-slope emitted as the computed double (0.8, exact)
        score = (
            "(1.0 + ln(1.0 + ln(tf)))"
            f" / ({repr(1.0 - 0.2)} + {repr(0.2)} * dl_len / avgdl)"
            " * ln((n_docs + 1.0) / df)"
        )
    elif kind == "dph":
        # DPH (parameter-free DFR hypergeometric, Terrier DPH):
        # tfn here is the relative frequency f = tf/dl; single-term
        # docs (tf == dl) contribute 0 exactly as in the engine.
        # 2*pi emitted via repr so both engines get the same double.
        two_pi = repr(2.0 * math.pi)
        tfn = "tf.tf / dl.doc_len"
        score = (
            "CASE WHEN tf < dl_len THEN"
            " (1.0 - tfn) * (1.0 - tfn) / (tf + 1.0)"
            " * (tf * ln(tf * avgdl / dl_len * n_docs / cf) / ln(2.0)"
            f"    + 0.5 * ln({two_pi} * tf * (1.0 - tfn)) / ln(2.0))"
            " ELSE 0.0 END"
        )
    elif kind == "dfi":
        # DFI standardized independence (Lucene DFISimilarity):
        # tfn here is the EXPECTED tf under independence,
        # e = (cf+1)*dl/(total_tokens+1); terms with tf <= e score 0
        tfn = "(dft.cf + 1.0) * dl.doc_len / (s.total_tokens + 1.0)"
        score = (
            "CASE WHEN tf > tfn"
            " THEN ln((tf - tfn) / sqrt(tfn) + 1.0) / ln(2.0)"
            " ELSE 0.0 END"
        )
    else:
        raise ValueError(kind)
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
post AS (
  SELECT q.qid, tf.doc_id, dft.df * 1.0 AS df, s.n_docs * 1.0 AS n_docs,
         dft.cf * 1.0 / s.n_docs AS lam, tf.tf * 1.0 AS tf,
         dft.cf * 1.0 AS cf, dl.doc_len * 1.0 AS dl_len, s.avgdl AS avgdl,
         {tfn} AS tfn
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
),
scored AS (SELECT qid, doc_id, sum({score}) AS s_raw FROM post GROUP BY 1, 2),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank,
         round(s_raw, 4) AS score
  FROM scored
)
SELECT qid, doc_id, rank, score FROM ranked WHERE rank <= {TOPK}
"""


# ----------------------- boosting / rescore / range-facet oracle SQL

_DEMOTE_TERM = "table"     # boosting gate: docs with this term are demoted
_NEG_BOOST = 0.5
_RESCORE_FIRST_K = 50      # rescore gate: first-pass candidate window

_BM25_SCORED_CTE = f"""scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
)"""


def _boosting_sql() -> str:
    """Replays retrieval.boosting_query: full BM25 scores, then any
    candidate containing the demote term has its score halved BEFORE
    the top-k window (the doc stays, unlike MUST_NOT)."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
{_BM25_SCORED_CTE},
neg AS (SELECT DISTINCT doc_id FROM tf WHERE term = '{_DEMOTE_TERM}'),
dem AS (
  SELECT s.qid, s.doc_id,
         CASE WHEN n.doc_id IS NOT NULL THEN s.s_raw * {_NEG_BOOST}
              ELSE s.s_raw END AS s2
  FROM scored s LEFT JOIN neg n USING (doc_id)
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY s2 DESC, doc_id ASC)::BIGINT AS rank,
         round(s2, 4) AS score
  FROM dem
)
SELECT qid, doc_id, rank, score FROM ranked WHERE rank <= {TOPK}
"""


def _rescore_sql() -> str:
    """Replays retrieval.rescore_topk: BM25 top-{_RESCORE_FIRST_K}
    candidate window, LM-Dirichlet second pass restricted to it,
    final order = 1.0*first + 1.0*second."""
    lm = (
        f"greatest(ln(1.0 + tf.tf / ({MU} * dft.cf / s.total_tokens))"
        f" + ln({MU} / (dl.doc_len + {MU})), 0.0)"
    )
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
{_BM25_SCORED_CTE},
cand AS (
  SELECT qid, doc_id, s_raw AS s_first FROM (
    SELECT qid, doc_id, s_raw,
           row_number() OVER (PARTITION BY qid
                              ORDER BY s_raw DESC, doc_id ASC) AS rank
    FROM scored) WHERE rank <= {_RESCORE_FIRST_K}
),
lm AS (
  SELECT q.qid, tf.doc_id, sum({lm}) AS s_second
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY 1, 2
),
comb AS (
  SELECT c.qid, c.doc_id,
         1.0 * c.s_first + 1.0 * coalesce(l.s_second, 0.0) AS s2
  FROM cand c LEFT JOIN lm l ON l.qid = c.qid AND l.doc_id = c.doc_id
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY s2 DESC, doc_id ASC)::BIGINT AS rank,
         round(s2, 4) AS score
  FROM comb
)
SELECT qid, doc_id, rank, score FROM ranked WHERE rank <= {TOPK}
"""


# range-facet gate: [lo, hi) buckets over n_chars of the BM25 top-k
# hits; "mid_wide" overlaps the others on purpose (Lucene range facets
# allow overlapping ranges — a hit counts once per matching range)
_FACET_RANGES: list[tuple[str, int, int | None]] = [
    ("short", 0, 200),
    ("medium", 200, 400),
    ("long", 400, None),
    ("mid_wide", 100, 500),
]


def _range_facets_sql() -> str:
    arms = []
    for label, lo, hi in _FACET_RANGES:
        cond = f"v >= {float(lo)}"
        if hi is not None:
            cond += f" AND v < {float(hi)}"
        arms.append(
            f"SELECT qid, '{label}' AS bucket, count(*)::BIGINT AS n_docs"
            f" FROM vals WHERE {cond} GROUP BY 1"
        )
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
{_BM25_SCORED_CTE},
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank
  FROM scored
),
run AS (SELECT qid, doc_id FROM ranked WHERE rank <= {TOPK}),
vals AS (SELECT r.qid, d.n_chars * 1.0 AS v
         FROM run r JOIN documents d USING (doc_id))
{" UNION ALL ".join(arms)}
"""


# -------------------- span-not / block-join / common-terms / divergence

_SPANNOT_PRE, _SPANNOT_POST = 1, 2
_SPANNOT_EXCLUDE = "batch"

_BJ_CHUNK = 16            # block-join gate: child chunk size (tokens)
_BJ_PACK = 1 << 20        # child id = parent_id * pack + chunk_idx

_CT_MAX_DF_RATIO = 0.5    # CommonTermsQuery df cutoff (fraction of N)
_CT_QUERIES: list[tuple[str, str]] = [
    ("ct1", "spark dup"),        # rare 'dup' selects; 'spark' only scores
    ("ct2", "table join"),       # no rare terms -> plain OR rewrite
    ("ct3", "dup zzznotaterm"),  # OOV term drops out entirely
]


def _span_not_sql() -> str:
    """Replays retrieval.span_not_query for include=_PHRASE[:2],
    exclude/pre/post above: phrase starts via the adjacent-position
    join, then NOT EXISTS an exclusion occurrence inside the widened
    span [start-pre, start+(n-1)+post]."""
    inc = _PHRASE[:2]
    hi = len(inc) - 1 + _SPANNOT_POST
    return rf"""
WITH t AS (SELECT doc_id, list_filter(
        regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')
        AS toks FROM documents),
e AS (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM t),
pos AS (SELECT doc_id, i AS p, toks[(i+1)::INT] AS term FROM e),
m AS (
  SELECT p1.doc_id, p1.p
  FROM pos p1 JOIN pos p2
    ON p2.doc_id = p1.doc_id AND p2.term = '{inc[1]}'
   AND p2.p = p1.p + 1
  WHERE p1.term = '{inc[0]}'
),
kept AS (
  SELECT doc_id, p FROM m
  WHERE NOT EXISTS (
    SELECT 1 FROM pos x
    WHERE x.doc_id = m.doc_id AND x.term = '{_SPANNOT_EXCLUDE}'
      AND x.p >= m.p - {_SPANNOT_PRE} AND x.p <= m.p + {hi}
  )
)
SELECT doc_id, count(*)::BIGINT AS spannot_freq FROM kept GROUP BY 1
"""


def _block_join_sql(combiner: str = "max") -> str:
    """Replays retrieval.block_join_topk over chunk children: the
    chunk_documents layout (whitespace tokens, list_slice — the proven
    chunk gate recipe) re-tokenized with the simple analyzer, BM25 with
    CHUNK-corpus statistics, parent = cid // pack, ``combiner``
    (max/sum — Lucene ScoreMode.Max/Total) per parent."""
    ct = _BJ_CHUNK
    return rf"""
WITH w AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
         x -> x <> '') AS toks
  FROM documents
),
n AS (SELECT doc_id, toks, len(toks)::BIGINT AS n_tok
      FROM w WHERE len(toks) > 0),
e AS (SELECT doc_id, toks,
             unnest(range(ceil(greatest(n_tok, 1) / {ct}.0)::BIGINT)) AS i
      FROM n),
ch AS (
  SELECT doc_id * {_BJ_PACK} + i AS cid,
         array_to_string(list_slice(toks, (i * {ct} + 1)::INT,
                                    (i * {ct} + {ct})::INT), ' ') AS ctext
  FROM e
),
ctoks AS (SELECT cid, unnest(list_filter(
          regexp_split_to_array(lower(ctext), '[^a-z0-9]+'),
          x -> x <> '')) AS term FROM ch),
ctf AS (SELECT term, cid, count(*)::BIGINT AS tf FROM ctoks GROUP BY 1, 2),
cdl AS (SELECT cid, count(*)::BIGINT AS doc_len FROM ctoks GROUP BY 1),
cdft AS (SELECT term, count(*)::BIGINT AS df FROM ctf GROUP BY 1),
cstats AS (SELECT count(*)::BIGINT AS n_docs, avg(doc_len) AS avgdl
           FROM cdl),
{_values_queries()},
scored AS (
  SELECT q.qid, ctf.cid,
         sum( ln(1.0 + (s.n_docs - cdft.df + 0.5) / (cdft.df + 0.5))
              * ctf.tf / (ctf.tf + {K1} * (1.0 - {B} + {B} * cdl.doc_len / s.avgdl)) ) AS s_raw
  FROM q JOIN cdft USING (term) JOIN ctf USING (term)
  JOIN cdl ON ctf.cid = cdl.cid CROSS JOIN cstats s
  GROUP BY q.qid, ctf.cid
),
par AS (
  SELECT qid, cid // {_BJ_PACK} AS parent_id, {combiner}(s_raw) AS s
  FROM scored GROUP BY 1, 2
),
ranked AS (
  SELECT qid, parent_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY s DESC, parent_id ASC)::BIGINT AS rank,
         round(s, 4) AS score
  FROM par
)
SELECT qid, parent_id, rank, score FROM ranked WHERE rank <= {TOPK}
"""


def _block_join_children_sql() -> str:
    """Replays retrieval.block_join_children_topk: the PARENT BM25 run
    over documents, each matching parent's chunk children (same
    chunk_documents id layout as the block_join gate) inheriting the
    parent score, top-k by (score DESC, child_id ASC)."""
    ct = _BJ_CHUNK
    return rf"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
{_BM25_SCORED_CTE},
w2 AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
         x -> x <> '') AS toks
  FROM documents
),
n2 AS (SELECT doc_id, len(toks)::BIGINT AS n_tok
       FROM w2 WHERE len(toks) > 0),
ch AS (
  SELECT doc_id,
         doc_id * {_BJ_PACK}
           + unnest(range(ceil(greatest(n_tok, 1) / {ct}.0)::BIGINT))
           AS child_id
  FROM n2
),
j AS (
  SELECT s.qid, ch.child_id, s.doc_id AS parent_id, s.s_raw
  FROM scored s JOIN ch USING (doc_id)
),
ranked AS (
  SELECT qid, child_id, parent_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY s_raw DESC, child_id ASC)::BIGINT AS rank,
         round(s_raw, 4) AS score
  FROM j
)
SELECT qid, child_id, parent_id, rank, score FROM ranked WHERE rank <= {TOPK}
"""


def _common_terms_sql() -> str:
    """Replays retrieval.common_terms_query: the rare/common df split
    rides the scoring join as a flag; docs need >= 1 rare match unless
    the query has no in-vocab rare terms (plain-OR rewrite)."""
    rows = ", ".join(
        f"('{qid}', '{t}')"
        for qid, text in _CT_QUERIES
        for t in text.lower().split()
    )
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS},
q(qid, term) AS (VALUES {rows}),
fq AS (
  SELECT q.qid, q.term, dft.df,
         CASE WHEN dft.df <= {_CT_MAX_DF_RATIO} * s.n_docs
              THEN 1 ELSE 0 END AS is_rare
  FROM q JOIN dft USING (term) CROSS JOIN stats s
),
hr AS (SELECT qid, max(is_rare) AS has_rare FROM fq GROUP BY 1),
scored AS (
  SELECT fq.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - fq.df + 0.5) / (fq.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw,
         sum(fq.is_rare) AS n_rare
  FROM fq JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY fq.qid, tf.doc_id
),
cand AS (
  SELECT s.qid, s.doc_id, s.s_raw FROM scored s JOIN hr USING (qid)
  WHERE hr.has_rare = 0 OR s.n_rare > 0
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank,
         round(s_raw, 4) AS score
  FROM cand
)
SELECT qid, doc_id, rank, score FROM ranked WHERE rank <= {TOPK}
"""


# ------------- facet hierarchy / risk eval / importance / sig terms

_SIG_TOPM = 5             # significant-terms gate: top terms per query
_IMP_SEED = 11            # importance-sample gate: mix seed
_IMP_RES = 10000
_IMP_SCALE = 100.0        # logit damping so sigmoid isn't saturated


def _facet_hierarchy_sql() -> str:
    """Replays retrieval.facet_hierarchy via GROUPING SETS — the same
    prefix-depth combos Catalyst's rollup emits after the qid-bit
    filter; NULL subtotal cells coalesced to '(all)' on both sides."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
{_BM25_SCORED_CTE},
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank
  FROM scored
),
run AS (SELECT qid, doc_id FROM ranked WHERE rank <= {TOPK}),
j AS (SELECT r.qid, d.source, d.lang
      FROM run r JOIN documents d USING (doc_id))
SELECT qid, coalesce(source, '(all)') AS source,
       coalesce(lang, '(all)') AS lang, count(*)::BIGINT AS n_docs
FROM j
GROUP BY GROUPING SETS ((qid, source, lang), (qid, source), (qid))
"""


def _risk_eval_sql() -> str:
    """Replays evaluation.risk_metric (URisk, alpha=1) over the same
    per-query AP pair as the ttest/wilcoxon gates. Deltas stay RAW —
    pre-rounding them to the 1e-4 grid makes Σd/n land exactly on 4dp
    halfway points (observed at sf0.001)."""
    return f"""
WITH {_ap_pair_prefix()},
d AS (SELECT a.ap - b.ap AS d
      FROM ap_a a JOIN ap_b b USING (qid))
SELECT count(*)::BIGINT AS n,
       sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)::BIGINT AS n_wins,
       sum(CASE WHEN d < 0 THEN 1 ELSE 0 END)::BIGINT AS n_losses,
       round((sum(CASE WHEN d > 0 THEN d ELSE 0.0 END)
              - 2.0 * sum(CASE WHEN d < 0 THEN -d ELSE 0.0 END))
             / count(*), 4) AS urisk
FROM d
"""


def _importance_sample_sql() -> str:
    """Replays utilsops.sample_by_score over the damped classifier
    sigmoid: the INTEGER md5 weights keep the logit fold-order-exact
    (classifier gate convention), the /_IMP_SCALE damping keeps the
    sigmoid off its saturated tails, and the keep rule is the portable
    mix bucket < floor(p·resolution)."""
    from luc4ir_spark.functions import hashing as hx

    bucket = (
        f"(({hx.MIX_A} * ((doc_id + {_IMP_SEED}) % {hx.MIX_P})"
        f" + {hx.MIX_B}) % {hx.MIX_P}) % {_IMP_RES}"
    )
    return f"""
WITH {_TOKS}, {_TF}, {_DL},
w AS (SELECT DISTINCT term, {_CLS_WEIGHT_SQL} AS weight FROM toks),
s AS (SELECT tf.doc_id, sum(tf.tf * w.weight) / dl.doc_len AS logit
      FROM tf JOIN w USING (term) JOIN dl ON tf.doc_id = dl.doc_id
      GROUP BY tf.doc_id, dl.doc_len),
p AS (SELECT doc_id,
             1.0 / (1.0 + exp(-(logit / {_IMP_SCALE}))) AS p
      FROM s)
SELECT doc_id, round(p, 4) AS p FROM p
WHERE {bucket} < floor(p * {_IMP_RES}.0)::BIGINT
"""


_BO1_M = 5  # bo1 gate: expansion terms kept per query


def _bo1_sql() -> str:
    """Replays feedback.bo1_expand over the BM25 top-FDBK_DOCS pool:
    lambda = cf/N, w = tf_x*log2((1+lam)/lam) + log2(1+lam) with log2
    spelled ln/ln(2); truncation by (round(w,4) DESC, term)."""
    return f"""
WITH {_BM25_RUN_CTES},
fbt AS (SELECT t.qid, tf.term, sum(tf.tf)::BIGINT AS tf_x
        FROM topm t JOIN tf ON tf.doc_id = t.doc_id GROUP BY 1, 2),
sg AS (
  SELECT fbt.qid, fbt.term, fbt.tf_x,
         fbt.tf_x * ln((1.0 + dft.cf / s.n_docs)
                       / (dft.cf / s.n_docs)) / ln(2.0)
         + ln(1.0 + dft.cf / s.n_docs) / ln(2.0) AS w
  FROM fbt JOIN dft USING (term) CROSS JOIN stats s
),
r AS (
  SELECT qid, term, tf_x, w,
         row_number() OVER (PARTITION BY qid
                            ORDER BY round(w, 4) DESC, term ASC) AS rn
  FROM sg
)
SELECT qid, term, tf_x, round(w, 4) AS weight
FROM r WHERE rn <= {_BO1_M}
"""


def _significant_terms_sql() -> str:
    """Replays feedback.significant_terms over the BM25 run's
    top-FDBK_DOCS feedback sets (the _BM25_RUN_CTES topm table):
    sig = tf_fb * ln((tf_fb/T_fb)/(cf/T))."""
    return f"""
WITH {_BM25_RUN_CTES},
fbt AS (SELECT t.qid, tf.term, sum(tf.tf)::BIGINT AS tf_fb
        FROM topm t JOIN tf ON tf.doc_id = t.doc_id GROUP BY 1, 2),
tot AS (SELECT qid, sum(tf_fb)::BIGINT AS t_fb FROM fbt GROUP BY 1),
sg AS (
  SELECT fbt.qid, fbt.term,
         fbt.tf_fb * ln((fbt.tf_fb / tot.t_fb)
                        / (dft.cf / s.total_tokens)) AS sig
  FROM fbt JOIN dft USING (term) JOIN tot USING (qid)
  CROSS JOIN stats s
),
r AS (
  SELECT qid, term, sig,
         row_number() OVER (PARTITION BY qid
                            ORDER BY sig DESC, term ASC)::BIGINT AS rank
  FROM sg
)
SELECT qid, term, rank, round(sig, 4) AS sig
FROM r WHERE rank <= {_SIG_TOPM}
"""


# ------------------- percolate / join-query / stats-agg oracle SQL

_PERC_BODY = """
dt AS (SELECT DISTINCT doc_id, term FROM toks),
nq AS (SELECT qid, count(DISTINCT term)::BIGINT AS n_terms
       FROM q GROUP BY 1),
m AS (SELECT dt.doc_id, q.qid, count(DISTINCT q.term)::BIGINT AS n_matched
      FROM q JOIN dt USING (term) GROUP BY 1, 2)
SELECT m.doc_id, m.qid, m.n_matched
FROM m JOIN nq USING (qid) WHERE m.n_matched = nq.n_terms
"""


def _percolate_sql() -> str:
    """Replays retrieval.percolate(mode='all'): distinct doc terms ×
    the registered query terms, all-MUST over the RAW term count (the
    q4 impossible term keeps q4 from ever firing)."""
    return f"WITH {_TOKS}, {_values_queries()},{_PERC_BODY}"


def _percolate_streamed_sql() -> str:
    """Batch replay of the percolate STREAM: wave 2 re-delivers docs
    0/1 under shifted ids (percolation is stateless, so they match
    again under the new ids) — the CTE shadows `documents` with the
    union the stream saw."""
    return f"""
WITH documents AS (
  SELECT doc_id, text FROM main.documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM main.documents
  WHERE doc_id < 2
),
{_TOKS}, {_values_queries()},{_PERC_BODY}"""


def _cori_sql() -> str:
    """Replays federation.cori_collection_scores over the source
    shards: per-(term, shard) df, shard token sizes, CORI T*I with the
    standard (0.4, 50, 150) constants, b-floor completion via the
    (qid x shard) frame."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_values_queries()},
sh AS (SELECT doc_id, source AS shard FROM documents),
tsh AS MATERIALIZED (
  SELECT t.term, s.shard, count(*)::BIGINT AS df_s
  FROM tf t JOIN sh s USING (doc_id) GROUP BY 1, 2),
cw AS MATERIALIZED (
  SELECT s.shard, sum(d.doc_len)::BIGINT AS cw_s
  FROM dl d JOIN sh s USING (doc_id) GROUP BY 1),
nc AS (SELECT count(*)::BIGINT AS n_c, avg(cw_s) AS avg_cw FROM cw),
cf AS (SELECT term, count(*)::BIGINT AS cf_t FROM tsh GROUP BY 1),
nq AS (SELECT qid, count(*)::BIGINT AS nq FROM q GROUP BY 1),
pres AS (
  SELECT q.qid, t.shard,
         sum(0.6 * (t.df_s / (t.df_s + 50.0 + 150.0 * c.cw_s / n.avg_cw))
             * (ln((n.n_c + 0.5) / f.cf_t) / ln(n.n_c + 1.0))) AS s
  FROM q JOIN tsh t USING (term) JOIN cf f USING (term)
  JOIN cw c ON c.shard = t.shard CROSS JOIN nc n
  GROUP BY 1, 2
),
frame AS (SELECT nq.qid, cw.shard, nq.nq FROM nq CROSS JOIN cw)
SELECT fr.qid, fr.shard,
       round(fr.nq * 0.4 + coalesce(p.s, 0.0), 4) AS belief,
       (row_number() OVER (PARTITION BY fr.qid
          ORDER BY fr.nq * 0.4 + coalesce(p.s, 0.0) DESC, fr.shard ASC)
       )::BIGINT AS rank
FROM frame fr LEFT JOIN pres p USING (qid, shard)
"""


_REDDE_TOP, _REDDE_MOD = 20, 4


def _redde_sql() -> str:
    """Replays redde_selection: mix-hash 1/_REDDE_MOD sample, BM25 with
    SAMPLE-local stats, per-shard top-n hit counts scaled by N_s/n_s
    (one integer product, ONE division)."""
    from luc4ir_spark.functions import hashing as hx

    mx = (f"(({hx.MIX_A} * (doc_id % {hx.MIX_P}) + {hx.MIX_B})"
          f" % {hx.MIX_P})")
    return f"""
WITH {_TOKS}, {_values_queries()},
samp AS MATERIALIZED (
  SELECT doc_id FROM documents WHERE {mx} % {_REDDE_MOD} = 0),
tok2 AS (SELECT t.doc_id, t.term FROM toks t JOIN samp USING (doc_id)),
tf2 AS (SELECT term, doc_id, count(*)::BIGINT AS tf
        FROM tok2 GROUP BY 1, 2),
dl2 AS (SELECT doc_id, count(*)::BIGINT AS doc_len
        FROM tok2 GROUP BY 1),
dft2 AS (SELECT term, count(*)::BIGINT AS df FROM tf2 GROUP BY 1),
st2 AS (SELECT count(*)::BIGINT AS n_docs, avg(doc_len) AS avgdl
        FROM dl2),
scored AS (
  SELECT q.qid, t.doc_id,
         sum( ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
              * t.tf / (t.tf + {K1} * (1.0 - {B} + {B} * l.doc_len / s.avgdl)) ) AS s_raw
  FROM q JOIN dft2 d USING (term) JOIN tf2 t USING (term)
  JOIN dl2 l ON l.doc_id = t.doc_id CROSS JOIN st2 s
  GROUP BY q.qid, t.doc_id
),
run AS MATERIALIZED (
  SELECT qid, doc_id FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY s_raw DESC, doc_id ASC) AS r
    FROM scored
  ) WHERE r <= {_REDDE_TOP}
),
sh AS (SELECT doc_id, source AS shard FROM documents),
n_full AS (SELECT shard, count(*)::BIGINT AS n_s_full
           FROM sh GROUP BY 1),
n_samp AS (SELECT sh.shard, count(*)::BIGINT AS n_s_samp
           FROM sh JOIN samp USING (doc_id) GROUP BY 1),
hits AS (SELECT r.qid, sh.shard, count(*)::BIGINT AS n_top_hits
         FROM run r JOIN sh USING (doc_id) GROUP BY 1, 2),
frame AS (
  SELECT q2.qid, f.shard, f.n_s_full, ns.n_s_samp
  FROM (SELECT DISTINCT qid FROM run) q2
  CROSS JOIN n_full f
  LEFT JOIN n_samp ns ON ns.shard = f.shard
)
SELECT qid, shard, n_top_hits, est_rel, rank FROM (
  SELECT fr.qid, fr.shard,
         coalesce(h.n_top_hits, 0)::BIGINT AS n_top_hits,
         round(CASE WHEN fr.n_s_samp IS NULL OR fr.n_s_samp = 0
                    THEN 0.0
                    ELSE (coalesce(h.n_top_hits, 0) * fr.n_s_full)
                         / fr.n_s_samp END, 4) AS est_rel,
         (row_number() OVER (PARTITION BY fr.qid
            ORDER BY CASE WHEN fr.n_s_samp IS NULL OR fr.n_s_samp = 0
                          THEN 0.0
                          ELSE (coalesce(h.n_top_hits, 0) * fr.n_s_full)
                               / fr.n_s_samp END DESC, fr.shard ASC)
         )::BIGINT AS rank
  FROM frame fr LEFT JOIN hits h ON h.qid = fr.qid AND h.shard = fr.shard
)
"""


def _cori_merge_sql() -> str:
    """Replays cori_merge: parity shards scored with SHARD-LOCAL BM25
    stats (top-TOPK per shard per query), beliefs = the cori SQL at
    parity shards ROUNDED 4dp (matching the Spark operator's output),
    min-max normalized, (D + 0.4*D*C'')/1.4, merged top-TOPK."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_values_queries()},
sh AS (SELECT doc_id, 's' || (doc_id % 2)::VARCHAR AS shard
       FROM documents),
tfs AS MATERIALIZED (
  SELECT t.term, t.doc_id, t.tf, s.shard
  FROM tf t JOIN sh s USING (doc_id)),
dls AS MATERIALIZED (
  SELECT d.doc_id, d.doc_len, s.shard
  FROM dl d JOIN sh s USING (doc_id)),
dfts AS MATERIALIZED (
  SELECT shard, term, count(*)::BIGINT AS df FROM tfs GROUP BY 1, 2),
stats_s AS MATERIALIZED (
  SELECT shard, count(*)::BIGINT AS n_docs, avg(doc_len) AS avgdl
  FROM dls GROUP BY 1),
scored AS (
  SELECT t.shard, q.qid, t.doc_id,
         sum( ln(1.0 + (st.n_docs - d.df + 0.5) / (d.df + 0.5))
              * t.tf / (t.tf + {K1} * (1.0 - {B} + {B} * l.doc_len / st.avgdl)) ) AS s_raw
  FROM q
  JOIN tfs t USING (term)
  JOIN dfts d ON d.term = t.term AND d.shard = t.shard
  JOIN dls l ON l.doc_id = t.doc_id
  JOIN stats_s st ON st.shard = t.shard
  GROUP BY t.shard, q.qid, t.doc_id
),
shard_runs AS MATERIALIZED (
  SELECT shard, qid, doc_id, s_raw AS score FROM (
    SELECT shard, qid, doc_id, s_raw,
           row_number() OVER (PARTITION BY shard, qid
                              ORDER BY s_raw DESC, doc_id ASC) AS r
    FROM scored
  ) WHERE r <= {TOPK}
),
tsh2 AS MATERIALIZED (
  SELECT term, shard, count(*)::BIGINT AS df_s
  FROM tfs GROUP BY 1, 2),
cw2 AS MATERIALIZED (
  SELECT shard, sum(doc_len)::BIGINT AS cw_s FROM dls GROUP BY 1),
nc2 AS (SELECT count(*)::BIGINT AS n_c, avg(cw_s) AS avg_cw FROM cw2),
cf2 AS (SELECT term, count(*)::BIGINT AS cf_t FROM tsh2 GROUP BY 1),
nq2 AS (SELECT qid, count(*)::BIGINT AS nq FROM q GROUP BY 1),
pres2 AS (
  SELECT q.qid, t.shard,
         sum(0.6 * (t.df_s / (t.df_s + 50.0 + 150.0 * c.cw_s / n.avg_cw))
             * (ln((n.n_c + 0.5) / f.cf_t) / ln(n.n_c + 1.0))) AS s
  FROM q JOIN tsh2 t USING (term) JOIN cf2 f USING (term)
  JOIN cw2 c ON c.shard = t.shard CROSS JOIN nc2 n
  GROUP BY 1, 2
),
bel AS MATERIALIZED (
  SELECT fr.qid, fr.shard,
         round(fr.nq * 0.4 + coalesce(p.s, 0.0), 4) AS belief
  FROM (SELECT nq2.qid, cw2.shard, nq2.nq FROM nq2 CROSS JOIN cw2) fr
  LEFT JOIN pres2 p USING (qid, shard)
),
nb AS (
  SELECT qid, shard,
         CASE WHEN max(belief) OVER (PARTITION BY qid)
                   > min(belief) OVER (PARTITION BY qid)
              THEN (belief - min(belief) OVER (PARTITION BY qid))
                   / (max(belief) OVER (PARTITION BY qid)
                      - min(belief) OVER (PARTITION BY qid))
              ELSE 0.0 END AS bn
  FROM bel
),
m AS (
  SELECT r.qid, r.doc_id, r.shard,
         (r.score + 0.4 * r.score * nb.bn) / 1.4 AS m_raw
  FROM shard_runs r JOIN nb USING (qid, shard)
)
SELECT qid, doc_id, shard, merged, rank FROM (
  SELECT qid, doc_id, shard, round(m_raw, 4) AS merged,
         (row_number() OVER (PARTITION BY qid
                             ORDER BY m_raw DESC, doc_id ASC)
         )::BIGINT AS rank
  FROM m
) WHERE rank <= {TOPK}
"""


_SPELL_NGRAM_QUERIES = [("sp1", "spork"), ("sp2", "stram"),
                        ("sp3", "tabel"), ("sp4", "join")]


def _spell_ngram_sql() -> str:
    """Replays spell_candidates_ngram: boundary-marked char bigrams on
    both sides, distinct-shared-gram counts, levenshtein verify."""
    vals = ", ".join(f"('{q}', '{t}')" for q, t in _SPELL_NGRAM_QUERIES)
    return f"""
WITH {_TOKS}, {_TF},
vocab AS (SELECT DISTINCT term FROM tf),
vg AS (
  SELECT DISTINCT term, substr(m, i, 2) AS gram
  FROM (SELECT term, '^' || term || '$' AS m FROM vocab),
       unnest(range(1, len(m))) AS r(i)
),
qv(qid, qterm) AS (VALUES {vals}),
qg AS (
  SELECT DISTINCT qid, qterm, substr(m, i, 2) AS gram
  FROM (SELECT qid, qterm, '^' || qterm || '$' AS m FROM qv),
       unnest(range(1, len(m))) AS r(i)
),
cand AS (
  SELECT q.qid, q.qterm, v.term, count(*)::BIGINT AS n_shared
  FROM vg v JOIN qg q USING (gram)
  GROUP BY 1, 2, 3
  HAVING count(*) >= 2
)
SELECT qid, qterm, term, n_shared,
       levenshtein(qterm, term)::BIGINT AS distance
FROM cand WHERE levenshtein(qterm, term) <= 2
"""


def _join_query_sql() -> str:
    """Replays retrieval.join_query over source: from-matches = docs
    with >= 1 query term, to-docs = every doc sharing a matched
    source."""
    return f"""
WITH {_TOKS}, {_TF}, {_values_queries()},
qd AS (SELECT DISTINCT q.qid, tf.doc_id FROM q JOIN tf USING (term)),
fv AS (SELECT DISTINCT qd.qid, d.source
       FROM qd JOIN documents d USING (doc_id))
SELECT DISTINCT fv.qid, d2.doc_id
FROM fv JOIN documents d2 ON d2.source = fv.source
"""


def _stats_agg_sql() -> str:
    """Replays retrieval.result_field_stats over the BM25 top-k run:
    min/max/avg/stddev_samp/exact-median of n_chars. Spark's median()
    INTERPOLATES the even-count middle; DuckDB's median() is discrete
    for integers, so the oracle uses quantile_cont(v, 0.5)."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
{_BM25_SCORED_CTE},
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank
  FROM scored
),
run AS (SELECT qid, doc_id FROM ranked WHERE rank <= {TOPK}),
vals AS (SELECT r.qid, d.n_chars * 1.0 AS v
         FROM run r JOIN documents d USING (doc_id))
SELECT qid, count(*)::BIGINT AS n,
       round(min(v), 4) AS vmin, round(max(v), 4) AS vmax,
       round(avg(v), 4) AS vavg, round(stddev_samp(v), 4) AS vstd,
       round(quantile_cont(v, 0.5), 4) AS vmed
FROM vals GROUP BY 1
"""


# ----------------------------- index-disk-usage oracle SQL

_DU_SHARDS = 3   # pinned salt shards so the salted layout is exercised
_DU_BLOCK = 4    # small impact blocks -> several blocks per posting list


def _index_disk_usage_sql() -> str:
    """Analytic replay of the WAND blob byte sizes (Lucene's
    IndexDiskUsage at the .doc-file level): the varbyte length of a
    value v is 1 + floor(log128 v) (min 1), the codec stores each
    block's first doc_id ABSOLUTE and the rest as gaps, and blobs are
    uniformly doc-sharded by pmod(mix(doc_id), shards) — so the total
    per (term, salt) is a pure SQL expression over the postings, no
    decode needed. Byte-exact against octet_length(blob)."""
    from luc4ir_spark.functions import hashing as hx

    def vb(col: str) -> str:
        return (
            f"CASE WHEN {col} < 128 THEN 1"
            f" WHEN {col} < 16384 THEN 2"
            f" WHEN {col} < 2097152 THEN 3 ELSE 4 END"
        )

    salt = (
        f"(({hx.MIX_A} * (tf.doc_id % {hx.MIX_P}) + {hx.MIX_B})"
        f" % {hx.MIX_P}) % {_DU_SHARDS}"
    )
    return f"""
WITH {_TOKS}, {_TF}, {_DL},
p AS (SELECT tf.term, tf.doc_id, tf.tf, dl.doc_len, {salt} AS salt
      FROM tf JOIN dl USING (doc_id)),
o AS (SELECT term, salt, doc_id, tf, doc_len,
             row_number() OVER (PARTITION BY term, salt
                                ORDER BY doc_id) - 1 AS rn,
             lag(doc_id) OVER (PARTITION BY term, salt
                               ORDER BY doc_id) AS prev
      FROM p),
v AS (SELECT term, salt, tf, doc_len,
             CASE WHEN rn % {_DU_BLOCK} = 0 THEN doc_id
                  ELSE doc_id - prev END AS delta
      FROM o)
SELECT term, salt::BIGINT AS salt, count(*)::BIGINT AS n_docs,
       sum({vb("delta")} + {vb("tf")} + {vb("doc_len")})::BIGINT
         AS blob_bytes
FROM v GROUP BY 1, 2
"""


def _postings_encoding_sql() -> str:
    """Replays plans/layout.postings_encoding_report: per-term gap
    stream (first absolute), varbyte lengths and floor-log2 as literal
    integer CASE chains, Elias-Fano bits n·l + n + (U >> l), ceil-by-
    integer-floor-div bytes, argmin with varbyte < ef < bitmap ties."""
    vb = (
        "CASE "
        + " ".join(
            f"WHEN d < {1 << (7 * k)} THEN {k}" for k in range(1, 9)
        )
        + " ELSE 9 END"
    )
    lg = (
        "CASE "
        + " ".join(
            f"WHEN universe // df < {1 << i} THEN {i - 1}"
            for i in range(1, 63)
        )
        + " ELSE 62 END"
    )
    return f"""
WITH {_TOKS}, {_TF},
o AS (SELECT term, doc_id,
             lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id) AS prev
      FROM tf),
v AS (SELECT term,
             CASE WHEN prev IS NULL THEN doc_id
                  ELSE doc_id - prev END AS d,
             doc_id
      FROM o),
per AS (SELECT term, count(*)::BIGINT AS df,
               (max(doc_id) + 1)::BIGINT AS universe,
               sum({vb})::BIGINT AS varbyte_bytes
        FROM v GROUP BY 1),
sz AS (SELECT term, df, universe, varbyte_bytes,
              ({lg})::BIGINT AS l
       FROM per),
b AS (SELECT term, df, universe, varbyte_bytes,
             ((df * l + df + (universe >> l) + 7) // 8)::BIGINT
               AS ef_bytes,
             ((universe + 7) // 8)::BIGINT AS bitmap_bytes
      FROM sz)
SELECT term, df, universe, varbyte_bytes, ef_bytes, bitmap_bytes,
       CASE WHEN varbyte_bytes <= ef_bytes
                 AND varbyte_bytes <= bitmap_bytes THEN 'varbyte'
            WHEN ef_bytes <= bitmap_bytes THEN 'elias_fano'
            ELSE 'bitmap' END AS best
FROM b
"""


_PRUNE_RANGE = (200, 299)  # n_chars predicate: exactly one clustered
# file (r2) can match, so the range layout prunes the rest while the
# hash layout prunes nothing


_COMPACTION_SQL = """
WITH files AS (
  SELECT source AS partition, (doc_id // 25)::BIGINT AS file_id,
         sum(n_chars)::BIGINT AS size_bytes
  FROM documents GROUP BY 1, 2
),
o AS (
  SELECT partition, file_id, size_bytes,
         coalesce(sum(size_bytes) OVER (PARTITION BY partition
           ORDER BY size_bytes DESC, file_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cumb,
         row_number() OVER (PARTITION BY partition
           ORDER BY size_bytes DESC, file_id ASC)::BIGINT AS group_seq
  FROM files
)
SELECT partition, file_id, size_bytes,
       floor(cumb / 3000)::BIGINT AS group_id, group_seq
FROM o
"""


def _scan_pruning_sql() -> str:
    """Replays plans/layout.scan_pruning_report for the two layouts:
    per-file min/max + integer range-prune decision + the n_matching
    invariant."""
    from luc4ir_spark.functions import hashing as hx

    lo, hi = _PRUNE_RANGE
    mix = (
        f"(({hx.MIX_A} * (doc_id % {hx.MIX_P}) + {hx.MIX_B})"
        f" % {hx.MIX_P})"
    )
    body = """
  SELECT layout, file_id, count(*)::BIGINT AS n_rows,
         min(n_chars)::BIGINT AS vmin, max(n_chars)::BIGINT AS vmax,
         sum(CASE WHEN n_chars BETWEEN {lo} AND {hi}
                  THEN 1 ELSE 0 END)::BIGINT AS n_matching
  FROM {src} GROUP BY 1, 2
"""
    return f"""
WITH rfiles AS (
  SELECT 'range' AS layout, 'r' || (n_chars // 100) AS file_id, n_chars
  FROM documents
),
hfiles AS (
  SELECT 'hash' AS layout, 'h' || ({mix} % 8) AS file_id, n_chars
  FROM documents
),
per AS (
  {body.format(lo=lo, hi=hi, src="rfiles")}
  UNION ALL
  {body.format(lo=lo, hi=hi, src="hfiles")}
)
SELECT file_id, n_rows, vmin, vmax, n_matching,
       (vmax < {lo} OR vmin > {hi}) AS pruned, layout
FROM per
"""


_SOURCE_VOCAB_OVERLAP_SQL = """
WITH sv AS (
  SELECT DISTINCT source, unnest(list_filter(
    regexp_split_to_array(lower(text), '[^a-z0-9]+'),
    x -> x <> '')) AS term
  FROM documents
),
sizes AS (SELECT source, count(*)::BIGINT AS n FROM sv GROUP BY 1),
inter AS (
  SELECT l.source AS s1, r.source AS s2, count(*)::BIGINT AS n_common
  FROM sv l JOIN sv r
    ON l.term = r.term AND l.source < r.source
  GROUP BY 1, 2
)
SELECT i.s1, i.s2, i.n_common,
       round(i.n_common / (a.n + b.n - i.n_common), 4) AS jaccard
FROM inter i
JOIN sizes a ON a.source = i.s1
JOIN sizes b ON b.source = i.s2
"""


_STOPWORD_INDUCTION_SQL = """
WITH toks AS (SELECT doc_id, unnest(list_filter(
       regexp_split_to_array(lower(text), '[^a-z0-9]+'),
       x -> x <> '')) AS term FROM documents),
dft AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df,
               count(*)::BIGINT AS cf
        FROM toks GROUP BY 1),
s AS (SELECT count(*)::BIGINT AS n FROM documents),
t AS (SELECT count(*)::BIGINT AS total FROM toks)
SELECT dft.term, dft.df,
       round(dft.df / s.n, 4) AS df_frac,
       round(dft.cf / t.total, 4) AS cf_share,
       dft.df * 4 > 3 * s.n AS is_stop
FROM dft CROSS JOIN s CROSS JOIN t
"""


def _cache_plan_sql() -> str:
    """Replays plans/layout.cache_plan over the analytic varbyte
    sizes + query-term frequencies: integer density key, cumulative
    prefix cut at 3000 bytes."""
    vb = (
        "CASE "
        + " ".join(
            f"WHEN d < {1 << (7 * k)} THEN {k}" for k in range(1, 9)
        )
        + " ELSE 9 END"
    )
    return f"""
WITH {_TOKS}, {_TF}, {_values_queries()},
o AS (SELECT term, doc_id,
             lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id) AS prev
      FROM tf),
v AS (SELECT term,
             CASE WHEN prev IS NULL THEN doc_id
                  ELSE doc_id - prev END AS d
      FROM o),
per AS (SELECT term, sum({vb})::BIGINT AS bytes FROM v GROUP BY 1),
qf AS (SELECT term, count(*)::BIGINT AS qfreq FROM q GROUP BY 1),
c AS (
  SELECT per.term, per.bytes,
         coalesce(qf.qfreq, 0)::BIGINT AS qfreq,
         ((coalesce(qf.qfreq, 0) * 1000000) // per.bytes)::BIGINT
           AS density_key
  FROM per LEFT JOIN qf USING (term)
),
w AS (
  SELECT *, sum(bytes) OVER (ORDER BY density_key DESC, term ASC
             ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_bytes
  FROM c
)
SELECT term, bytes, qfreq, density_key, cum_bytes,
       cum_bytes <= 3000 AS cached
FROM w
"""


def _term_frontcoding_sql() -> str:
    """Replays plans/layout.term_dict_frontcoding_report over the
    vocabulary: lag(term) in sorted order, prefix length as the same
    unrolled substr-equality chain, encoded = 1 + len - plen."""
    plen = " + ".join(
        f"CASE WHEN substr(term, 1, {i}) = substr(prev, 1, {i})"
        f" THEN 1 ELSE 0 END"
        for i in range(1, 17)
    )
    return f"""
WITH {_TOKS},
v AS (SELECT DISTINCT term FROM toks),
o AS (SELECT term, lag(term) OVER (ORDER BY term ASC) AS prev FROM v),
p AS (SELECT term, strlen(term)::BIGINT AS term_bytes,
             CASE WHEN prev IS NULL THEN 0
                  ELSE ({plen}) END::BIGINT AS prefix_len
      FROM o)
SELECT term, term_bytes, prefix_len,
       (1 + term_bytes - prefix_len)::BIGINT AS encoded_bytes
FROM p
"""


# ----------------------------- best-fragments oracle SQL

_FRAG_WIDTH, _FRAG_N = 8, 2


def _best_fragments_sql() -> str:
    """Replays retrieval.best_fragments over the BM25 top-k run:
    anchors at every query-term position in a hit, window hit counts
    via a per-(qid, doc) self-join, top 2 by (n_hits desc, pos asc)."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
{_BM25_SCORED_CTE},
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank
  FROM scored
),
run AS (SELECT qid, doc_id FROM ranked WHERE rank <= {TOPK}),
t AS (SELECT doc_id, list_filter(
        regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')
        AS toks FROM documents),
e AS (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM t),
pos AS (SELECT doc_id, i AS p, toks[(i+1)::INT] AS term FROM e),
qp AS (
  SELECT q.qid, pos.doc_id, pos.p
  FROM pos JOIN q ON q.term = pos.term
  JOIN run r ON r.qid = q.qid AND r.doc_id = pos.doc_id
),
fr AS (
  SELECT a.qid, a.doc_id, a.p AS start_pos, count(*)::BIGINT AS n_hits
  FROM qp a JOIN qp m
    ON m.qid = a.qid AND m.doc_id = a.doc_id
   AND m.p >= a.p AND m.p < a.p + {_FRAG_WIDTH}
  GROUP BY 1, 2, 3
),
rk AS (
  SELECT qid, doc_id, start_pos::BIGINT AS start_pos, n_hits,
         row_number() OVER (PARTITION BY qid, doc_id
                            ORDER BY n_hits DESC, start_pos ASC)::BIGINT
           AS frag_rank
  FROM fr
)
SELECT qid, doc_id, frag_rank, start_pos, n_hits
FROM rk WHERE frag_rank <= {_FRAG_N}
"""


# ----------------------------- proximity-rerank oracle SQL


def _proximity_rerank_sql() -> str:
    """Replays retrieval.proximity_rerank over the BM25 top-k run:
    MinDist via a different-term positional self-join, bonus
    ln(1 + exp(-MinDist)), no-pair docs keep their raw score."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
{_BM25_SCORED_CTE},
ranked0 AS (
  SELECT qid, doc_id, s_raw,
         row_number() OVER (PARTITION BY qid
                            ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank
  FROM scored
),
run AS (SELECT qid, doc_id, s_raw FROM ranked0 WHERE rank <= {TOPK}),
t AS (SELECT doc_id, list_filter(
        regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')
        AS toks FROM documents),
e AS (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM t),
pos AS (SELECT doc_id, i AS p, toks[(i+1)::INT] AS term FROM e),
occ AS (
  SELECT q.qid, pos.doc_id, q.term, pos.p
  FROM pos JOIN q ON q.term = pos.term
  JOIN run r ON r.qid = q.qid AND r.doc_id = pos.doc_id
),
md AS (
  SELECT a.qid, a.doc_id, min(abs(a.p - b.p)) * 1.0 AS min_dist
  FROM occ a JOIN occ b
    ON b.qid = a.qid AND b.doc_id = a.doc_id AND b.term <> a.term
  GROUP BY 1, 2
),
boosted AS (
  SELECT r.qid, r.doc_id,
         r.s_raw + CASE WHEN m.min_dist IS NOT NULL
                        THEN ln(1.0 + exp(-m.min_dist))
                        ELSE 0.0 END AS s2
  FROM run r LEFT JOIN md m ON m.qid = r.qid AND m.doc_id = r.doc_id
),
rr AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY s2 DESC, doc_id ASC)::BIGINT AS rank,
         round(s2, 4) AS score
  FROM boosted
)
SELECT qid, doc_id, rank, score FROM rr WHERE rank <= {TOPK}
"""


# ----------------------------- did-you-mean (collation) oracle SQL

# token positions matter: the collated string preserves query order;
# d3's first token has NO suggestion within 2 edits -> 0-hit collation
_DYM_QUERIES: list[tuple[str, int, str]] = [
    ("d1", 0, "sparkk"), ("d1", 1, "tabel"),
    ("d2", 0, "spark"), ("d2", 1, "windoww"),
    ("d3", 0, "zzzqqqxxx"), ("d3", 1, "spark"),
]
_DYM_MAX_EDITS = 2


def _did_you_mean_sql() -> str:
    """Replays retrieval.did_you_mean: best suggestion per OOV token
    (distance ASC, df DESC, term ASC — integer ordering), order-
    preserving collation, conjunctive hit-count probe."""
    rows = ", ".join(f"('{q}', {p}, '{t}')" for q, p, t in _DYM_QUERIES)
    return f"""
WITH {_TOKS}, {_TF}, {_DFT},
q(qid, pos, term) AS (VALUES {rows}),
oov AS (SELECT DISTINCT qid, term FROM q
        WHERE term NOT IN (SELECT term FROM dft)),
cand AS (
  SELECT o.qid, o.term, d.term AS suggestion,
         levenshtein(d.term, o.term) AS distance, d.df
  FROM dft d JOIN oov o
    ON levenshtein(d.term, o.term) <= {_DYM_MAX_EDITS}
),
best AS (
  SELECT qid, term, suggestion FROM (
    SELECT *, row_number() OVER (PARTITION BY qid, term
             ORDER BY distance ASC, df DESC, suggestion ASC) AS rn
    FROM cand) WHERE rn = 1
),
fixed AS (
  SELECT q.qid, q.pos, coalesce(b.suggestion, q.term) AS t
  FROM q LEFT JOIN best b ON b.qid = q.qid AND b.term = q.term
),
coll AS (SELECT qid, string_agg(t, ' ' ORDER BY pos) AS collated
         FROM fixed GROUP BY 1),
dq AS (SELECT DISTINCT qid, t FROM fixed),
nt AS (SELECT qid, count(*)::BIGINT AS n FROM dq GROUP BY 1),
hits AS (
  SELECT dq.qid, tf.doc_id, count(*)::BIGINT AS m
  FROM dq JOIN tf ON tf.term = dq.t GROUP BY 1, 2
),
nh AS (SELECT h.qid, count(*)::BIGINT AS n_hits
       FROM hits h JOIN nt USING (qid) WHERE h.m = nt.n GROUP BY 1)
SELECT c.qid, c.collated, coalesce(nh.n_hits, 0)::BIGINT AS n_hits
FROM coll c LEFT JOIN nh USING (qid)
"""


# -------------------- attribution oracle SQL

_ATTR_WINDOW_S = 14400  # 4 h lookback -> ~160 pairs at sf0.01

_ATTRIBUTION_SQL = f"""
WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t
           FROM events),
c AS (SELECT user_id, event_id AS click_id, t AS click_us
      FROM e WHERE event_type = 'click'),
v AS (SELECT user_id, event_id AS view_id, t AS view_us
      FROM e WHERE event_type = 'view')
SELECT c.user_id, c.click_id, v.view_id, c.click_us, v.view_us
FROM c JOIN v USING (user_id)
WHERE v.view_us <= c.click_us
  AND c.click_us - v.view_us <= {_ATTR_WINDOW_S * 1_000_000}
"""


# -------------------- retention / json-props oracle SQL

_RETENTION_SQL = """
WITH per AS (SELECT DISTINCT user_id AS u, date_trunc('day', ts) AS d
             FROM events),
first AS (SELECT u, min(d) AS c FROM per GROUP BY 1)
SELECT strftime(f.c, '%Y-%m-%d') AS cohort_day,
       (p.d::DATE - f.c::DATE)::BIGINT AS day_offset,
       count(DISTINCT p.u)::BIGINT AS n_users
FROM per p JOIN first f USING (u)
GROUP BY 1, 2
"""

_JSON_PROPS_SQL = """
SELECT event_type AS grp, count(*)::BIGINT AS n,
       sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS p_sum,
       round(avg(json_extract_string(props, '$.k')::BIGINT), 4) AS p_avg
FROM events GROUP BY 1
"""


# ----------------------------- bootstrap-CI oracle SQL

_BOOT_B, _BOOT_SEED = 200, 5


def _bootstrap_ci_sql() -> str:
    """Replays evaluation.bootstrap_ci over the plain BM25 run's
    per-query AP: draw i picks topic pmod(mix(seed + i), n) for
    resample i // n; CI = interpolated 2.5/97.5% quantiles of the
    resample means. n == len(QUERY_SET) statically (every query
    matches >= 1 doc at every sf)."""
    from luc4ir_spark.functions import hashing as hx

    n = len(QUERY_SET)
    mix = (
        f"(({hx.MIX_A} * ((i + {_BOOT_SEED}) % {hx.MIX_P})"
        f" + {hx.MIX_B}) % {hx.MIX_P}) % {n}"
    )
    return f"""
WITH {_ap_pair_prefix()},
v AS (SELECT ap, row_number() OVER (ORDER BY qid) - 1 AS idx FROM ap_a),
d AS (SELECT i // {n} AS bid, {mix} AS idx
      FROM range({_BOOT_B * n}) t(i)),
bm AS (SELECT d.bid, avg(v.ap) AS mean_b
       FROM d JOIN v USING (idx) GROUP BY 1)
SELECT {n}::BIGINT AS n, {_BOOT_B}::BIGINT AS n_boot,
       round((SELECT avg(ap) FROM v), 4) AS mean,
       round(quantile_cont(mean_b, 0.025), 4) AS ci_lo,
       round(quantile_cont(mean_b, 0.975), 4) AS ci_hi
FROM bm
"""


# -------------------- quantized / truncated ANN oracle SQL

_TRUNC_DIM = 16  # Matryoshka gate: keep the first 16 of 64 dims


def _bootstrap_paired_sql() -> str:
    """Replays evaluation.bootstrap_paired_test over the ttest AP
    pair: deltas on the 1e-4 grid as scaled integers, same mix draw
    stream as the CI gate, p = (#{sum <= 0} + 1) / (B + 1)."""
    from luc4ir_spark.functions import hashing as hx

    n = len(QUERY_SET)
    mix = (
        f"(({hx.MIX_A} * ((i + {_BOOT_SEED}) % {hx.MIX_P})"
        f" + {hx.MIX_B}) % {hx.MIX_P}) % {n}"
    )
    return f"""
WITH {_ap_pair_prefix()},
dd AS (SELECT a.qid,
              CAST(round((a.ap - b.ap) * 10000, 0) AS BIGINT) AS ds
       FROM ap_a a JOIN ap_b b USING (qid)),
v AS (SELECT ds, row_number() OVER (ORDER BY qid) - 1 AS idx FROM dd),
d AS (SELECT i // {n} AS bid, {mix} AS idx
      FROM range({_BOOT_B * n}) t(i)),
bs AS (SELECT d.bid, sum(v.ds)::BIGINT AS s
       FROM d JOIN v USING (idx) GROUP BY 1)
SELECT {n}::BIGINT AS n, {_BOOT_B}::BIGINT AS n_boot,
       (SELECT sum(ds) FROM dd)::BIGINT AS sum_obs,
       sum(CASE WHEN s <= 0 THEN 1 ELSE 0 END)::BIGINT AS n_le0,
       round((sum(CASE WHEN s <= 0 THEN 1 ELSE 0 END) + 1.0)
             / {_BOOT_B + 1}, 4) AS p_le0
FROM bs
"""


_PERM_B, _PERM_SEED = 200, 11


def _run_permutation_sql() -> str:
    """Replays evaluation.permutation_test over the ttest AP pair:
    deltas on the 1e-4 grid as scaled integers, sign flip = mix parity
    of the flat draw index, two-sided p = (#{|S*| >= |S_obs|} + 1)
    / (B + 1)."""
    from luc4ir_spark.functions import hashing as hx

    n = len(QUERY_SET)
    par = (
        f"(({hx.MIX_A} * ((i + {_PERM_SEED}) % {hx.MIX_P})"
        f" + {hx.MIX_B}) % {hx.MIX_P}) % 2"
    )
    return f"""
WITH {_ap_pair_prefix()},
dd AS (SELECT a.qid,
              CAST(round((a.ap - b.ap) * 10000, 0) AS BIGINT) AS ds
       FROM ap_a a JOIN ap_b b USING (qid)),
v AS (SELECT ds, row_number() OVER (ORDER BY qid) - 1 AS idx FROM dd),
d AS (SELECT i // {n} AS pid, i % {n} AS idx,
             CASE WHEN {par} = 0 THEN 1 ELSE -1 END AS sgn
      FROM range({_PERM_B * n}) t(i)),
ps AS (SELECT d.pid, sum(d.sgn * v.ds)::BIGINT AS s
       FROM d JOIN v USING (idx) GROUP BY 1),
ob AS (SELECT sum(ds)::BIGINT AS sum_obs FROM dd)
SELECT {n}::BIGINT AS n, {_PERM_B}::BIGINT AS n_perm,
       (SELECT sum_obs FROM ob) AS sum_obs,
       sum(CASE WHEN abs(s) >= abs((SELECT sum_obs FROM ob))
                THEN 1 ELSE 0 END)::BIGINT AS n_ge,
       round((sum(CASE WHEN abs(s) >= abs((SELECT sum_obs FROM ob))
                       THEN 1 ELSE 0 END) + 1.0)
             / {_PERM_B + 1}, 4) AS p_two
FROM ps
"""


def _qmeasure_sql() -> str:
    """Replays evaluation.q_measure (beta=1) over the BM25 run +
    pseudo qrels: cumulative C(r)/cg(r) in rank order, ideal cig from
    the relevant set (binary gains here, so the string-vs-numeric
    docid tie-break in the ideal order is value-irrelevant: cig(r)=r),
    BR summed at relevant ranks / num_rel."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
{_BM25_SCORED_CTE},
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank
  FROM scored
),
run AS (SELECT qid, doc_id, rank FROM ranked WHERE rank <= {TOPK}),
{_QRELS_SQL},
rel AS (SELECT qid, docid, rel AS gain FROM qrels WHERE rel >= 1.0),
ideal AS (
  SELECT qid,
         row_number() OVER (PARTITION BY qid
                            ORDER BY gain DESC, docid ASC)::BIGINT AS irank,
         sum(gain) OVER (PARTITION BY qid
                         ORDER BY gain DESC, docid ASC) AS cig
  FROM rel
),
totals AS (SELECT qid, count(*)::BIGINT AS num_rel, sum(gain) AS total_gain
           FROM rel GROUP BY 1),
j AS (
  SELECT r.qid, r.rank, rl.gain,
         sum(CASE WHEN rl.gain IS NOT NULL THEN 1 ELSE 0 END)
           OVER (PARTITION BY r.qid ORDER BY r.rank)::BIGINT AS c_r,
         sum(coalesce(rl.gain, 0.0))
           OVER (PARTITION BY r.qid ORDER BY r.rank) AS cg
  FROM run r LEFT JOIN rel rl
    ON r.qid = rl.qid AND r.doc_id = CAST(rl.docid AS BIGINT)
),
j2 AS (
  SELECT j.*, coalesce(i.cig, t.total_gain) AS cig_r, t.num_rel
  FROM j JOIN totals t USING (qid)
  LEFT JOIN ideal i ON j.qid = i.qid AND j.rank = i.irank
)
SELECT qid, num_rel,
       round(sum(CASE WHEN gain IS NOT NULL
                      THEN (c_r + 1.0 * cg) / (rank + 1.0 * cig_r)
                      ELSE 0.0 END) / num_rel, 4) AS q_measure
FROM j2 GROUP BY 1, 2
"""


def _ann_quantized_sql() -> str:
    """Replays quantize_embeddings + cosine: CORPUS vectors go through
    the int8 round-trip (scale = max|x|/127, q = round(x/scale),
    x̂ = q·scale), queries stay exact — the standard SQ8 search
    asymmetry."""
    return """
WITH c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qz AS (
  SELECT vec_id, v,
         (CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0
               THEN 1.0
               ELSE list_max(list_transform(v, x -> abs(x))) END
          / 127.0) AS scale
  FROM c0
),
dq AS (SELECT vec_id,
              list_transform(v, x -> round(x / scale) * scale) AS w
       FROM qz),
q AS (SELECT vec_id AS query_id, v AS qv FROM c0 WHERE vec_id < 10),
c AS (SELECT vec_id, w AS cv FROM dq),
s AS (
  SELECT q.query_id, c.vec_id,
         list_dot_product(c.cv, q.qv)
         / (sqrt(list_dot_product(c.cv, c.cv))
            * sqrt(list_dot_product(q.qv, q.qv))) AS cos_raw
  FROM c CROSS JOIN q
),
r AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, vec_id ASC)::BIGINT AS rank,
         round(cos_raw, 4) AS cosine
  FROM s
)
SELECT query_id, vec_id, rank, cosine FROM r WHERE rank <= 5
"""


_ANN_TRUNCATED_SQL = f"""
WITH c0 AS (SELECT vec_id,
                   list_slice(embedding::DOUBLE[], 1, {_TRUNC_DIM}) AS v
            FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM c0 WHERE vec_id < 10),
s AS (
  SELECT q.query_id, c0.vec_id,
         list_dot_product(c0.v, q.qv)
         / (sqrt(list_dot_product(c0.v, c0.v))
            * sqrt(list_dot_product(q.qv, q.qv))) AS cos_raw
  FROM c0 CROSS JOIN q
),
r AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, vec_id ASC)::BIGINT AS rank,
         round(cos_raw, 4) AS cosine
  FROM s
)
SELECT query_id, vec_id, rank, cosine FROM r WHERE rank <= 5
"""


# ----------------------------- snapshot-diff oracle SQL

_SNAP_DIFF_SQL = """
WITH old AS (SELECT doc_id, md5(text) AS old_digest FROM documents),
new_docs AS (
  SELECT doc_id, md5(text || ' rev2') AS new_digest FROM documents
  WHERE doc_id % 7 <> 0 AND doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, md5(text) FROM documents
  WHERE doc_id % 7 <> 0 AND doc_id % 5 <> 0
  UNION ALL
  SELECT doc_id + 1000000, md5(text) FROM documents WHERE doc_id < 3
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN o.old_digest <> n.new_digest THEN 'changed'
            ELSE 'unchanged' END AS status,
       o.old_digest, n.new_digest
FROM old o FULL OUTER JOIN new_docs n ON o.doc_id = n.doc_id
"""


def _revisit_policy_sql() -> str:
    """Replays revisit_policy over the snapshot-diff gate's derivation:
    host = 'h' || mix(doc_id) % 10 (covers the shifted added ids too),
    integer cross-multiplied tier thresholds."""
    from luc4ir_spark.functions import hashing as hx

    mx = (f"(({hx.MIX_A} * (doc_id % {hx.MIX_P}) + {hx.MIX_B})"
          f" % {hx.MIX_P})")
    return f"""
WITH diff AS ({_SNAP_DIFF_SQL.strip()}),
hm AS (SELECT doc_id, 'h' || ({mx} % 10)::VARCHAR AS host FROM diff),
j AS (SELECT h.host, d.status FROM diff d JOIN hm h USING (doc_id)),
per AS (
  SELECT host, count(*)::BIGINT AS n_docs,
         sum(CASE WHEN status <> 'unchanged' THEN 1 ELSE 0 END)::BIGINT
           AS n_changed
  FROM j GROUP BY 1)
SELECT host, n_docs, n_changed,
       round(n_changed * 1.0 / n_docs, 4) AS change_rate,
       (CASE WHEN 2 * n_changed >= n_docs THEN 1
             WHEN 8 * n_changed >= n_docs THEN 4
             WHEN 32 * n_changed >= n_docs THEN 16
             ELSE 64 END)::BIGINT AS revisit_days
FROM per
"""


# -------------------------- index-check / blocklist oracle SQL

_BLOCKLIST = ["slow hash", "spark", "zzz banned"]


def _index_check_sql() -> str:
    """Independent derivation of the check_index counts: the violation
    columns are structurally zero when the engine's term/doc stats
    agree with a from-scratch re-aggregation (which is exactly what
    the engine's full joins verify)."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}
SELECT (SELECT count(*) FROM dft)::BIGINT AS n_terms,
       (SELECT count(*) FROM tf)::BIGINT AS n_postings,
       (SELECT count(*) FROM dl)::BIGINT AS n_docs,
       0::BIGINT AS df_mismatches, 0::BIGINT AS cf_mismatches,
       0::BIGINT AS doclen_mismatches, 0::BIGINT AS nonpositive_tf
"""


def _blocklist_sql() -> str:
    terms = " + ".join(
        f"(CASE WHEN strpos(lower(text), '{p.lower()}') > 0"
        " THEN 1 ELSE 0 END)"
        for p in _BLOCKLIST
    )
    return f"""
SELECT doc_id, ({terms})::BIGINT AS n_hits,
       ({terms}) = 0 AS keep
FROM documents
"""


_DIVERGENCE_SQL = f"""
WITH {_TOKS}, {_TF},
st AS (SELECT d.source AS stratum, tf.term, sum(tf.tf)::BIGINT AS cf_s
       FROM tf JOIN documents d USING (doc_id) GROUP BY 1, 2),
tt AS (SELECT stratum, sum(cf_s)::BIGINT AS t_s FROM st GROUP BY 1),
tc AS (SELECT term, sum(cf_s)::BIGINT AS cf FROM st GROUP BY 1),
tot AS (SELECT sum(cf)::BIGINT AS t FROM tc)
SELECT st.stratum, count(*)::BIGINT AS n_terms,
       round(sum((st.cf_s / tt.t_s)
                 * ln((st.cf_s / tt.t_s) / (tc.cf / tot.t))), 4) AS kl
FROM st JOIN tc USING (term) JOIN tt USING (stratum) CROSS JOIN tot
GROUP BY 1
"""


# --------------------------------------------- verbose-qsel oracle SQL

VERBOSE_QUERIES: list[tuple[str, str]] = [
    ("v1", "slow scan of giant data table with window agg and filter plans"),
    ("v2", "spark join"),  # shorter than the window -> keep all terms
    ("v3", "zzz yyy stream hash xxx www batch"),  # OOV terms idf=0
]


def _verbose_values() -> str:
    rows = ", ".join(f"('{q}', '{t}')" for q, t in VERBOSE_QUERIES)
    return f"vq(qid, text) AS (VALUES {rows})"


_QSEL_SQL = f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_verbose_values()},
vt AS (
  SELECT qid, unnest(l) AS term, unnest(range(len(l)))::INT AS pos
  FROM (SELECT qid, list_filter(regexp_split_to_array(lower(text),
        '[^a-z0-9]+'), x -> x <> '') AS l FROM vq) lists
),
widf AS (
  SELECT vt.qid, vt.pos, vt.term,
         coalesce(ln(s.n_docs * 1.0 / dft.df), 0.0) AS idf
  FROM vt LEFT JOIN dft USING (term) CROSS JOIN stats s
),
win AS (
  SELECT *, avg(idf) OVER w AS win_score, count(*) OVER w AS win_len,
         count(*) OVER (PARTITION BY qid) AS n
  FROM widf
  WINDOW w AS (PARTITION BY qid ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING)
),
elig AS (SELECT * FROM win WHERE win_len = 3 OR (n < 3 AND pos = 0)),
best AS (
  SELECT qid, pos AS start FROM (
    SELECT qid, pos, row_number() OVER (PARTITION BY qid
           ORDER BY win_score DESC, pos ASC) AS rn FROM elig
  ) WHERE rn = 1
)
SELECT DISTINCT vt.qid, vt.term
FROM vt JOIN best USING (qid)
WHERE vt.pos >= best.start AND vt.pos < best.start + 3
"""

_RR_HIST_SQL = f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank
  FROM scored
),
run AS (SELECT qid, doc_id, rank FROM ranked WHERE rank <= {TOPK}),
{_QRELS_SQL},
joined AS (
  SELECT r.qid, r.rank,
         CASE WHEN coalesce(qr.rel, 0.0) >= 1.0 THEN 1.0 ELSE 0.0 END AS is_rel
  FROM run r LEFT JOIN qrels qr
    ON r.qid = qr.qid AND r.doc_id = CAST(qr.docid AS BIGINT)
),
perq AS (
  SELECT qid,
         CASE WHEN min(CASE WHEN is_rel > 0 THEN rank END) IS NOT NULL
              THEN 1.0 / min(CASE WHEN is_rel > 0 THEN rank END)
              ELSE 0.0 END AS rr
  FROM joined GROUP BY qid
)
SELECT CASE WHEN rr <= 0 THEN 0
            ELSE least(ceil(rr * 5)::INT, 5) END AS bucket,
       count(*)::BIGINT AS n
FROM perq GROUP BY 1
"""


# --------------------------------------------- pipeline-op oracle SQL

JACCARD_T = 0.95

_SHINGLES = "sh AS (SELECT DISTINCT doc_id, term FROM toks)"
# hash-based shingle ids: first 60 bits of md5 — replays
# luc4ir_spark.operators.dedup.shingle_ids(id_mode="hash") exactly
_SIDS = (
    "ids AS (SELECT term,"
    " ('0x' || substr(md5(term), 1, 15))::BIGINT AS sid"
    " FROM (SELECT DISTINCT term FROM toks))"
)


def _minhash_params_values() -> str:
    rows = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(dd.MINHASH_PARAMS[:8])
    )
    return f"params(hash_id, a, b) AS (VALUES {rows})"


_JACCARD_SQL = _jaccard_capped_sql(
    f"WITH {_TOKS}, sh AS (SELECT DISTINCT doc_id, term AS shingle"
    " FROM toks)",
    JACCARD_T,
)

_CONTAIN_T = 0.9
_CONTAIN_SQL = _jaccard_capped_sql(
    f"WITH {_TOKS}, sh AS (SELECT DISTINCT doc_id, term AS shingle"
    " FROM toks)",
    _CONTAIN_T,
    measure="containment",
)

# connected components over the jaccard pair graph: transitive closure
# via a recursive CTE (labels = reachable node ids; cluster = min),
# replaying duplicate_clusters' min-label propagation fixpoint
_DUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS (
  {_JACCARD_SQL}
),
sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
reach AS (
  SELECT a AS node, a AS label FROM sym
  UNION
  SELECT e.b AS node, r.label FROM reach r JOIN sym e ON e.a = r.node
)
SELECT node AS doc_id, min(label)::BIGINT AS cluster_id
FROM reach GROUP BY 1
"""

# deduplicated-corpus materialization: the same component fixpoint,
# then keep min-doc_id representatives + untouched singletons
# (replays dedup.dedup_corpus = docs LEFT ANTI JOIN non-representative
# cluster members)
_DEDUP_CORPUS_SQL = f"""
WITH RECURSIVE pairs AS (
  {_JACCARD_SQL}
),
sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
reach AS (
  SELECT a AS node, a AS label FROM sym
  UNION
  SELECT e.b AS node, r.label FROM reach r JOIN sym e ON e.a = r.node
),
clusters AS (
  SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY 1
)
SELECT d.doc_id::BIGINT AS doc_id, d.lang, d.n_chars::BIGINT AS n_chars
FROM documents d
WHERE d.doc_id NOT IN
  (SELECT doc_id FROM clusters WHERE cluster_id < doc_id)
"""

def _url_norm_ctes() -> str:
    """Shared CTE block replaying textstats.normalize_urls over the
    mix-derived pseudo-URLs (same regexes, same tracking-prefix substr
    filter, bytewise param sort — DuckDB list_sort == Spark array_sort
    on ASCII; list_aggregate over an empty list is NULL -> coalesce).
    Consumers read from ``p3`` (doc_id, nofrag, scheme, hostport,
    host, path, q)."""
    from luc4ir_spark.functions import hashing as hx

    mx = (f"(({hx.MIX_A} * (doc_id % {hx.MIX_P}) + {hx.MIX_B})"
          f" % {hx.MIX_P})")
    keep = (
        "x <> '' AND substr(x, 1, 4) <> 'utm_'"
        " AND substr(x, 1, 6) <> 'fbclid'"
        " AND substr(x, 1, 5) <> 'gclid'"
        " AND substr(x, 1, 7) <> 'msclkid'"
    )
    return f"""u AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'http' END)
         || '://'
         || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
         || 'site' || ({mx} % 50)::VARCHAR || '.Example.COM'
         || (CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END)
         || '/p/' || doc_id::VARCHAR
         || '?b=2&utm_source=feed&a=' || (doc_id % 7)::VARCHAR
         || (CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END) AS url
  FROM documents
),
parts AS (
  SELECT doc_id,
         regexp_replace(url, '#.*$', '') AS nofrag
  FROM u
),
p2 AS (
  SELECT doc_id, nofrag,
         lower(regexp_extract(nofrag,
               '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
         lower(regexp_extract(nofrag,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
         regexp_extract(nofrag,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path0,
         regexp_extract(nofrag, '\\?(.*)$', 1) AS rawq
  FROM parts
),
p3 AS (
  SELECT doc_id, nofrag, scheme, hostport,
         regexp_replace(
           CASE WHEN scheme = 'http'
                THEN regexp_replace(hostport, ':80$', '')
                WHEN scheme = 'https'
                THEN regexp_replace(hostport, ':443$', '')
                ELSE hostport END, '^www\\.', '') AS host,
         CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
         coalesce(list_aggregate(list_sort(list_filter(
           string_split(rawq, '&'), x -> {keep})),
           'string_agg', '&'), '') AS q
  FROM p2
)"""


def _url_normalize_sql() -> str:
    """Full normalize_urls replay: final recompose over ``p3``."""
    return f"""
WITH {_url_norm_ctes()}
SELECT doc_id,
       CASE WHEN hostport = '' THEN lower(nofrag)
            ELSE scheme || '://' || host || path
                 || (CASE WHEN q = '' THEN '' ELSE '?' || q END)
       END AS url_norm,
       host
FROM p3
"""


_HOST_CAP = 12


def _robots_rules() -> list[tuple[str, str, str]]:
    """Deterministic per-host robots.txt rule table over the 50
    pseudo-URL hosts, planting every RFC 9309 resolution case:
    a shallow disallow (/p/1*), a deeper allow override (/p/12*), a
    deeper-still disallow (/p/123*), and an equal-length allow/
    disallow tie (/p/2) that must resolve to allow."""
    rules = []
    for h in range(50):
        host = f"site{h}.example.com"
        rules.append((host, "disallow", "/p/1"))
        if h % 2 == 0:
            rules.append((host, "allow", "/p/12"))
        if h % 3 == 0:
            rules.append((host, "disallow", "/p/123"))
        if h % 5 == 0:
            rules.append((host, "allow", "/p/2"))
            rules.append((host, "disallow", "/p/2"))
    return rules


def _robots_sql() -> str:
    """Replays textstats.robots_filter over the normalized pseudo-URL
    hosts/paths: longest-prefix match, allow on equal-length ties,
    allowed-by-default when no rule matches."""
    vals = ", ".join(
        f"('{h}', '{d}', '{p}')" for h, d, p in _robots_rules()
    )
    return f"""
WITH {_url_norm_ctes()},
rules(host, directive, path_prefix) AS (VALUES {vals}),
m AS (
  SELECT p3.doc_id, r.directive, r.path_prefix,
         row_number() OVER (PARTITION BY p3.doc_id
           ORDER BY length(r.path_prefix) DESC, r.directive ASC) AS rn
  FROM p3 JOIN rules r ON p3.host = r.host
       AND starts_with(p3.path, r.path_prefix)
),
best AS (SELECT doc_id, directive, path_prefix FROM m WHERE rn = 1)
SELECT p3.doc_id, p3.host, p3.path,
       coalesce(b.directive = 'allow', TRUE) AS allowed,
       b.path_prefix AS matched_prefix, b.directive
FROM p3 LEFT JOIN best b USING (doc_id)
"""


def _host_stats_sql() -> str:
    """Replays textstats.host_stats over the normalized hosts joined
    back to the documents' n_chars quality."""
    return f"""
WITH {_url_norm_ctes()},
j AS (
  SELECT p3.host, d.n_chars
  FROM p3 JOIN documents d USING (doc_id)
),
per AS (
  SELECT host, count(*)::BIGINT AS n_docs,
         sum(n_chars)::BIGINT AS total_chars
  FROM j GROUP BY 1
),
tot AS (SELECT count(*)::BIGINT AS t FROM j)
SELECT per.host, per.n_docs, per.total_chars,
       round(per.total_chars * 1.0 / per.n_docs, 4) AS avg_chars,
       round(per.n_docs * 1.0 / tot.t, 4) AS doc_share,
       per.n_docs > {_HOST_CAP} AS over_cap
FROM per CROSS JOIN tot
"""


def _inbatch_negatives_sql() -> str:
    """Replays utilsops.inbatch_negatives: mix-hash batch ids, the
    anchor-dependent draw, per-anchor rank cut at 2."""
    from luc4ir_spark.functions import hashing as hx

    A, B, P = hx.MIX_A, hx.MIX_B, hx.MIX_P
    return f"""
WITH d AS (
  SELECT doc_id AS id,
         (({A} * (doc_id % {P}) + {B}) % {P}) % 16 AS batch_id
  FROM documents
),
p AS (
  SELECT l.id AS anchor_id, r.id AS neg_id, l.batch_id,
         ({A} * (((l.id % {P}) * 31 + r.id) % {P}) + {B}) % {P}
           AS draw
  FROM d l JOIN d r
    ON l.batch_id = r.batch_id AND l.id <> r.id
),
rk AS (
  SELECT anchor_id, neg_id, batch_id,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY draw ASC, neg_id ASC)::BIGINT
           AS neg_rank
  FROM p
)
SELECT anchor_id, neg_id, batch_id, neg_rank
FROM rk WHERE neg_rank <= 2
"""


def _unimax_sql() -> str:
    """Replays utilsops.unimax_alloc at budget = 95% of corpus tokens,
    max_epochs = 1: ascending-cap waterfilling with integer
    cross-multiplied ok flags, cumulative-min capping, one division
    for the equal share."""
    return """
WITH t AS (
  SELECT source, len(list_filter(regexp_split_to_array(lower(text),
         '[^a-z0-9]+'), x -> x <> '')) AS n
  FROM documents
),
per AS (SELECT source, sum(n)::BIGINT AS n_tokens FROM t GROUP BY 1),
bb AS (SELECT ((sum(n_tokens) * 95) // 100)::BIGINT AS b FROM per),
r AS (
  SELECT source, n_tokens, n_tokens::BIGINT AS cap,
         row_number() OVER (ORDER BY n_tokens ASC, source ASC) AS k,
         sum(n_tokens) OVER (ORDER BY n_tokens ASC, source ASC
                             ROWS UNBOUNDED PRECEDING) AS cum,
         count(*) OVER () AS n
  FROM per
),
o AS (
  SELECT r.*, bb.b,
         CASE WHEN cap * (n - k + 1) <= bb.b - (cum - cap)
              THEN 1 ELSE 0 END AS ok
  FROM r CROSS JOIN bb
),
f AS (
  SELECT *, min(ok) OVER (ORDER BY cap ASC, source ASC
                          ROWS UNBOUNDED PRECEDING) = 1 AS is_capped
  FROM o
),
tot AS (
  SELECT sum(CASE WHEN is_capped THEN cap ELSE 0 END)::BIGINT AS cs,
         sum(CASE WHEN is_capped THEN 1 ELSE 0 END)::BIGINT AS nc,
         count(*)::BIGINT AS nn
  FROM f
)
SELECT f.source, f.n_tokens, f.cap, f.is_capped,
       round(CASE WHEN f.is_capped THEN f.cap::DOUBLE
                  ELSE (f.b - tot.cs) / (tot.nn - tot.nc) END, 4)
         AS alloc_tokens,
       round(CASE WHEN f.is_capped THEN f.cap::DOUBLE
                  ELSE (f.b - tot.cs) / (tot.nn - tot.nc) END
             / f.n_tokens, 4) AS epochs
FROM f CROSS JOIN tot
"""


def _crawl_schedule_sql() -> str:
    """Replays textstats.crawl_schedule over the normalized hosts with
    n_chars priority: per-host row_number, delay = 1 + sid60(host) mod
    5, fetch_time = (seq-1)*delay — all integers."""
    return f"""
WITH {_url_norm_ctes()},
frontier AS (
  SELECT p3.doc_id, p3.host, d.n_chars AS priority
  FROM p3 JOIN documents d USING (doc_id)
),
sched AS (
  SELECT doc_id, host,
         row_number() OVER (PARTITION BY host
                            ORDER BY priority DESC, doc_id ASC)::BIGINT
           AS host_seq,
         ((('0x' || substr(md5(host), 1, 15))::BIGINT % 5) + 1)::BIGINT
           AS delay
  FROM frontier
)
SELECT doc_id, host, host_seq, delay,
       ((host_seq - 1) * delay)::BIGINT AS fetch_time
FROM sched
"""


_DEDUP_SURVIVORS_SQL = f"""
WITH RECURSIVE pairs AS (
  {_JACCARD_SQL}
),
sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
reach AS (
  SELECT a AS node, a AS label FROM sym
  UNION
  SELECT e.b AS node, r.label FROM reach r JOIN sym e ON e.a = r.node
),
clusters AS (
  SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY 1
),
memq AS MATERIALIZED (
  SELECT c.doc_id, c.cluster_id, d.n_chars
  FROM clusters c JOIN documents d USING (doc_id)
),
surv AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY n_chars DESC, doc_id) AS rn
    FROM memq
  ) WHERE rn = 1
),
dropn AS (
  -- EXCEPT would read cleaner, but inside a WITH RECURSIVE block
  -- DuckDB rejects any non-UNION setop CTE
  SELECT doc_id FROM memq
  WHERE doc_id NOT IN (SELECT doc_id FROM surv)
)
SELECT d.doc_id::BIGINT AS doc_id, d.lang, d.n_chars::BIGINT AS n_chars
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM dropn)
"""

_MINHASH_SQL = f"""
WITH {_TOKS}, {_SHINGLES}, {_SIDS}, {_minhash_params_values()}
SELECT sh.doc_id, p.hash_id,
       min((p.a * (ids.sid % {dd.MERSENNE_P}) + p.b)
           % {dd.MERSENNE_P})::BIGINT AS min_hash
FROM sh JOIN ids USING (term) CROSS JOIN params p
GROUP BY 1, 2
"""

_SIMHASH_SQL = f"""
WITH {_TOKS}, {_SHINGLES}, {_SIDS},
h AS (
  SELECT sh.doc_id,
         (1203077 * (ids.sid % {dd.MERSENNE_P}) + 52512857)
         % {dd.MERSENNE_P} AS h
  FROM sh JOIN ids USING (term)
),
bits AS (
  SELECT doc_id, b.bit,
         CASE WHEN (h >> b.bit) % 2 = 1 THEN 1 ELSE -1 END AS vote
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS bit) b
),
perbit AS (SELECT doc_id, bit, sum(vote) AS v FROM bits GROUP BY 1, 2)
SELECT doc_id,
       sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
FROM perbit GROUP BY doc_id
"""

# 64-bit simhash + capped pigeonhole pairs: the md5-derived 64-bit
# shingle hash is (hi_signed * 2^32 + lo) over two 32-bit md5 halves —
# overflow-free arithmetic that reproduces dedup._md5_hash64 exactly
# (DuckDB's << raises on int64 overflow, so no shifts in the
# construction; 1 << 63 at accumulate time needs the CASE literal).
SIMHASH_MAX_HAMMING = 3
SIMHASH_BITS = 64
SIMHASH_CHUNK_BITS = SIMHASH_BITS // (SIMHASH_MAX_HAMMING + 1)

_SIMHASH64_PAIRS_SQL = f"""
WITH {_TOKS}, {_SHINGLES},
h64 AS (
  SELECT doc_id,
         (CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END)
         * 4294967296 + lo AS h
  FROM (SELECT doc_id,
               ('0x' || substr(md5(term), 1, 8))::BIGINT AS lo,
               ('0x' || substr(md5(term), 9, 8))::BIGINT AS hi
        FROM sh)
),
bits AS (
  SELECT doc_id, b.bit,
         CASE WHEN ((h >> b.bit) & 1) = 1 THEN 1 ELSE -1 END AS vote
  FROM h64 CROSS JOIN
       (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS bit) b
),
perbit AS (SELECT doc_id, bit, sum(vote) AS v FROM bits GROUP BY 1, 2),
sim64 AS (
  SELECT doc_id,
         sum(CASE WHEN v <= 0 THEN 0
                  WHEN bit = 63 THEN -9223372036854775808
                  ELSE (1::BIGINT << bit) END)::BIGINT AS simhash
  FROM perbit GROUP BY doc_id
),
chunks AS (
  SELECT doc_id, simhash, c.chunk,
         (simhash >> (c.chunk * {SIMHASH_CHUNK_BITS}))
         & {(1 << SIMHASH_CHUNK_BITS) - 1} AS chunk_val
  FROM sim64 CROSS JOIN
       (SELECT unnest(generate_series(0, {SIMHASH_MAX_HAMMING})) AS chunk) c
),
bsz AS (SELECT chunk, chunk_val, count(*)::BIGINT AS bn
        FROM chunks GROUP BY 1, 2),
-- first-collision semantics (mirrors the engine): each pair is
-- considered once, in its minimal matching chunk, and survives iff
-- THAT chunk's bucket is within the cap
allhits AS (
  SELECT l.doc_id AS a, r.doc_id AS b,
         l.simhash AS ha, r.simhash AS hb,
         min(l.chunk) AS mchunk,
         arg_min(l.chunk_val, l.chunk) AS mval
  FROM chunks l JOIN chunks r
    ON l.chunk = r.chunk AND l.chunk_val = r.chunk_val
   AND l.doc_id < r.doc_id
  GROUP BY 1, 2, 3, 4
),
cands AS (
  SELECT h.a, h.b, h.ha, h.hb FROM allhits h
  JOIN bsz s ON s.chunk = h.mchunk AND s.chunk_val = h.mval
  WHERE s.bn <= {dd.DEFAULT_MAX_BUCKET_SIZE}
)
SELECT a, b, bit_count(xor(ha, hb))::BIGINT AS hamming
FROM cands WHERE bit_count(xor(ha, hb)) <= {SIMHASH_MAX_HAMMING}
"""

# gate config for winnowing substring fingerprints: small k/window so
# the synthetic corpus yields a healthy verified-pair set
_WINNOW_K = 4
_WINNOW_W = 4
_WINNOW_MIN_SHARED = 2
_TOP_NGRAMS_K = 25

# winnowing replay: positional k-gram 60-bit md5 ids, window minima
# (one whole-sequence window when a doc has fewer than W grams),
# distinct fingerprints; candidates from the df-capped inverted join,
# verify = distinct shared fingerprints over the FULL sets
_SUBSTRING_SQL = f"""
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
         '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
g AS (
  SELECT doc_id,
         list_transform(range(1, len(toks) - {_WINNOW_K} + 2),
           i -> ('0x' || substr(md5(array_to_string(
                  list_slice(toks, i::INT, (i + {_WINNOW_K} - 1)::INT),
                  ' ')), 1, 15))::BIGINT) AS hs
  FROM t WHERE len(toks) >= {_WINNOW_K}
),
f AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(hs) - {_WINNOW_W} + 1, 1) + 1),
           i -> list_aggregate(
                  list_slice(hs, i::INT, (i + {_WINNOW_W} - 1)::INT),
                  'min'))) AS fps
  FROM g
),
fp AS (SELECT doc_id, unnest(fps) AS fp FROM f),
dfc AS (SELECT fp, count(*)::BIGINT AS fdf FROM fp GROUP BY 1),
cf AS (SELECT fp.doc_id, fp.fp FROM fp JOIN dfc USING (fp)
       WHERE fdf <= {dd.DEFAULT_MAX_SHINGLE_DF}),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM cf x JOIN cf y ON x.fp = y.fp AND x.doc_id < y.doc_id
),
sizes AS (SELECT doc_id, len(fps)::BIGINT AS nf FROM f),
inter AS (
  SELECT c.a, c.b, count(*)::BIGINT AS shared_fps
  FROM cand c
  JOIN fp x ON x.doc_id = c.a
  JOIN fp y ON y.doc_id = c.b AND y.fp = x.fp
  GROUP BY 1, 2
)
SELECT i.a, i.b, i.shared_fps,
       round(i.shared_fps / least(sa.nf, sb.nf)::DOUBLE, 4) AS overlap
FROM inter i
JOIN sizes sa ON sa.doc_id = i.a
JOIN sizes sb ON sb.doc_id = i.b
WHERE i.shared_fps >= {_WINNOW_MIN_SHARED}
"""

_TOP_NGRAMS_SQL = f"""
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
         '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks), 1)),
           i -> array_to_string(list_slice(toks, i::INT, (i + 1)::INT),
                ' '))) AS ngram
  FROM t
)
SELECT ngram, count(DISTINCT doc_id)::BIGINT AS n_docs,
       count(*)::BIGINT AS total_count
FROM g GROUP BY 1
ORDER BY total_count DESC, ngram ASC
LIMIT {_TOP_NGRAMS_K}
"""

# cross-corpus LSH join replay: same sig/band CTEs as the self-join
# oracle, two parity-split sides, per-side bucket sizes, and the
# first-colliding-band cap on BOTH sides
_MINHASH_JOIN_SQL = f"""
WITH {_TOKS}, {_SHINGLES}, {_SIDS}, {_minhash_params_values()},
sig AS (
  SELECT sh.doc_id, p.hash_id,
         min((p.a * (ids.sid % {dd.MERSENNE_P}) + p.b)
             % {dd.MERSENNE_P})::BIGINT AS min_hash
  FROM sh JOIN ids USING (term) CROSS JOIN params p
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, hash_id // 2 AS band,
         string_agg(min_hash::VARCHAR, '_' ORDER BY hash_id) AS bucket
  FROM sig GROUP BY doc_id, hash_id // 2
),
ba AS (SELECT * FROM bands WHERE doc_id % 2 = 0),
bb AS (SELECT * FROM bands WHERE doc_id % 2 = 1),
sza AS (SELECT band, bucket, count(*)::BIGINT AS bn FROM ba GROUP BY 1, 2),
szb AS (SELECT band, bucket, count(*)::BIGINT AS bn FROM bb GROUP BY 1, 2),
allhits AS (
  SELECT l.doc_id AS a, r.doc_id AS b,
         min(l.band) AS mband,
         arg_min(l.bucket, l.band) AS mbucket
  FROM ba l JOIN bb r ON l.band = r.band AND l.bucket = r.bucket
  GROUP BY 1, 2
),
cands AS (
  SELECT h.a, h.b FROM allhits h
  JOIN sza ON sza.band = h.mband AND sza.bucket = h.mbucket
  JOIN szb ON szb.band = h.mband AND szb.bucket = h.mbucket
  WHERE sza.bn <= {dd.DEFAULT_MAX_BUCKET_SIZE} AND szb.bn <= {dd.DEFAULT_MAX_BUCKET_SIZE}
),
dsid AS (SELECT DISTINCT sh.doc_id, ids.sid FROM sh JOIN ids USING (term)),
sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT c.a, c.b, count(*)::BIGINT AS common
  FROM cands c
  JOIN dsid x ON x.doc_id = c.a
  JOIN dsid y ON y.doc_id = c.b AND y.sid = x.sid
  GROUP BY 1, 2
)
SELECT i.a, i.b,
       round(i.common / (sa.sz + sb.sz - i.common)::DOUBLE, 4) AS jaccard
FROM inter i JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
WHERE i.common / (sa.sz + sb.sz - i.common)::DOUBLE >= {JACCARD_T}
"""

_VOCAB_COVERAGE_SQL = f"""
WITH {_TOKS},
counts AS (
  SELECT term, count(*)::BIGINT AS count FROM toks GROUP BY 1
),
r AS (
  SELECT term, count,
         row_number() OVER (ORDER BY count DESC, term ASC)::BIGINT AS rank,
         sum(count) OVER (ORDER BY count DESC, term ASC
                          ROWS UNBOUNDED PRECEDING)::BIGINT AS prefix,
         sum(count) OVER ()::BIGINT AS total
  FROM counts
)
SELECT rank, term, count,
       round(prefix / total::DOUBLE, 4) AS cum_share
FROM r WHERE (prefix - count)::DOUBLE < 0.9 * total::DOUBLE
"""

# per-doc OOV accounting against the same coverage-0.9 vocab prefix
_APPLY_VOCAB_SQL = f"""
WITH {_TOKS},
counts AS (
  SELECT term, count(*)::BIGINT AS count FROM toks GROUP BY 1
),
r AS (
  SELECT term, count,
         sum(count) OVER (ORDER BY count DESC, term ASC
                          ROWS UNBOUNDED PRECEDING)::BIGINT AS prefix,
         sum(count) OVER ()::BIGINT AS total
  FROM counts
),
v AS (SELECT term FROM r
      WHERE (prefix - count)::DOUBLE < 0.9 * total::DOUBLE),
per AS (
  SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
         count(*) FILTER (t.term NOT IN (SELECT term FROM v))::BIGINT
           AS n_oov
  FROM toks t GROUP BY 1
)
SELECT doc_id, n_tokens, n_oov,
       round(n_oov / n_tokens::DOUBLE, 4) AS oov_rate
FROM per
"""

# --- LSH oracle SQL: replay the seeded hyperplane buckets / MinHash
# banding as literals so DuckDB reproduces candidate generation exactly

_MINHASH_LSH_SQL = f"""
WITH {_TOKS}, {_SHINGLES}, {_SIDS}, {_minhash_params_values()},
sig AS (
  SELECT sh.doc_id, p.hash_id,
         min((p.a * (ids.sid % {dd.MERSENNE_P}) + p.b)
             % {dd.MERSENNE_P})::BIGINT AS min_hash
  FROM sh JOIN ids USING (term) CROSS JOIN params p
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, hash_id // 2 AS band,
         string_agg(min_hash::VARCHAR, '_' ORDER BY hash_id) AS bucket
  FROM sig GROUP BY doc_id, hash_id // 2
),
bandsz AS (SELECT band, bucket, count(*)::BIGINT AS bn
           FROM bands GROUP BY 1, 2),
-- first-collision semantics: each pair is considered exactly once, in
-- its minimal colliding band; it survives iff THAT band's bucket is
-- within the max_bucket_size cap (the engine removes capped rows
-- before the join and suppresses later-band re-emission with an
-- earlier-bands-differ conjunction)
allhits AS (
  SELECT l.doc_id AS a, r.doc_id AS b,
         min(l.band) AS mband,
         arg_min(l.bucket, l.band) AS mbucket
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
  GROUP BY 1, 2
),
cands AS (
  SELECT h.a, h.b FROM allhits h
  JOIN bandsz s ON s.band = h.mband AND s.bucket = h.mbucket
  WHERE s.bn <= {dd.DEFAULT_MAX_BUCKET_SIZE}
),
-- verification is over the per-doc sets of 60-bit hashed shingle ids
-- (exactly what the engine intersects); sizes count distinct shingles
-- (= the engine's size(_sids), one id per distinct shingle)
dsid AS (SELECT DISTINCT sh.doc_id, ids.sid FROM sh JOIN ids USING (term)),
sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT c.a, c.b, count(*)::BIGINT AS common
  FROM cands c
  JOIN dsid x ON x.doc_id = c.a
  JOIN dsid y ON y.doc_id = c.b AND y.sid = x.sid
  GROUP BY 1, 2
)
SELECT i.a, i.b,
       round(i.common / (sa.sz + sb.sz - i.common)::DOUBLE, 4) AS jaccard
FROM inter i JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
WHERE i.common / (sa.sz + sb.sz - i.common)::DOUBLE >= {JACCARD_T}
"""


def _plane_sql_array(plane: list[float]) -> str:
    return "[" + ", ".join(repr(float(x)) for x in plane) + "]"


def _bucket_sql(vec_expr: str, planes: list[list[float]]) -> str:
    """Sign-bit bucket key as SQL — mirrors annsearch._bucket_expr."""
    terms = [
        f"(CASE WHEN list_dot_product({vec_expr},"
        f" {_plane_sql_array(p)}) >= 0 THEN {2 ** i} ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")"


def _lsh_tables(n_tables: int = 4, n_planes: int = 8, dim: int = 64,
                seed: int = 42) -> list[list[list[float]]]:
    return [
        ann._planes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)
    ]


def _ann_lsh_sql() -> str:
    from luc4ir_spark.operators.annsearch import DEFAULT_MAX_BUCKET_SIZE

    buckets = [
        (_bucket_sql("cv", planes), _bucket_sql("qv", planes))
        for planes in _lsh_tables()
    ]
    c_keys = ", ".join(f"{cb} AS ck{t}" for t, (cb, _) in enumerate(buckets))
    q_keys = ", ".join(f"{qb} AS qk{t}" for t, (_, qb) in enumerate(buckets))
    # corpus-side bucket sizes per table (the max_bucket_size cap the
    # engine applies before the bucket join — recall-only, modeled here
    # with the family-wide FIRST-collision semantics: a pair counts at
    # its minimal matching table and survives iff THAT table's corpus
    # bucket is within the cap)
    c_sizes = ", ".join(
        f"count(*) OVER (PARTITION BY ck{t}) AS bn{t}"
        for t in range(len(buckets))
    )
    hit_union = " UNION ALL ".join(
        f"SELECT q.query_id, c.vec_id, {t} AS tbl, c.bn{t} AS bn"
        f" FROM bc c JOIN bq q ON c.ck{t} = q.qk{t}"
        for t in range(len(buckets))
    )
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
bc0 AS (SELECT vec_id, cv, {c_keys} FROM c),
bc AS (SELECT *, {c_sizes} FROM bc0),
bq AS (SELECT query_id, qv, {q_keys} FROM q),
allh AS (SELECT query_id, vec_id, arg_min(bn, tbl) AS first_bn
         FROM ({hit_union}) GROUP BY 1, 2),
cand AS (SELECT query_id, vec_id FROM allh
         WHERE first_bn <= {DEFAULT_MAX_BUCKET_SIZE}),
s AS (
  SELECT cand.query_id, cand.vec_id,
         list_dot_product(c.cv, q.qv)
         / (sqrt(list_dot_product(c.cv, c.cv))
            * sqrt(list_dot_product(q.qv, q.qv))) AS cos_raw
  FROM cand JOIN c USING (vec_id) JOIN q USING (query_id)
),
r AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, vec_id ASC)::BIGINT AS rank,
         round(cos_raw, 4) AS cosine
  FROM s
)
SELECT query_id, vec_id, rank, cosine FROM r WHERE rank <= 5
"""


def _ann_multiprobe_sql() -> str:
    """Replays lsh_multiprobe_topk: single seed-42 table, query probes
    = own bucket + every 1-bit flip, corpus cap, exact-cosine rerank."""
    from luc4ir_spark.operators.annsearch import (
        DEFAULT_MAX_BUCKET_SIZE,
        _planes,
    )

    planes = _planes(64, 8, 42)
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
bc0 AS (SELECT vec_id, cv, {_bucket_sql("cv", planes)} AS ck FROM c),
bc AS (SELECT *, count(*) OVER (PARTITION BY ck) AS bn FROM bc0),
bq AS (SELECT query_id, qv, {_bucket_sql("qv", planes)} AS qk FROM q),
pr AS (
  SELECT query_id, qv,
         CASE WHEN i = 0 THEN qk
              ELSE xor(qk, (1::BIGINT << (i - 1)::INT)) END AS probe
  FROM bq, unnest(range(9)) AS r(i)
),
cand AS (
  SELECT pr.query_id, c.vec_id
  FROM pr JOIN bc c ON c.ck = pr.probe
  WHERE c.bn <= {DEFAULT_MAX_BUCKET_SIZE}
),
s AS (
  SELECT cand.query_id, cand.vec_id,
         list_dot_product(c.cv, q.qv)
         / (sqrt(list_dot_product(c.cv, c.cv))
            * sqrt(list_dot_product(q.qv, q.qv))) AS cos_raw
  FROM cand JOIN c USING (vec_id) JOIN q USING (query_id)
),
r AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, vec_id ASC)::BIGINT AS rank,
         round(cos_raw, 4) AS cosine
  FROM s
)
SELECT query_id, vec_id, rank, cosine FROM r WHERE rank <= 5
"""


def _near_dup_lsh_sql(threshold: float = 0.4) -> str:
    from luc4ir_spark.operators.annsearch import DEFAULT_MAX_BUCKET_SIZE

    keys = ", ".join(
        f"{_bucket_sql('v', planes)} AS k{t}"
        for t, planes in enumerate(_lsh_tables())
    )
    # per-table bucket sizes: first-collision cap semantics — each pair
    # is considered once, in its minimal colliding table, and survives
    # iff THAT table's bucket is within max_bucket_size (both join
    # sides share the bucket, so one side's size suffices)
    sizes = ", ".join(
        f"count(*) OVER (PARTITION BY k{t}) AS bn{t}" for t in range(4)
    )
    hit_union = " UNION ALL ".join(
        f"SELECT x.vec_id AS a, y.vec_id AS b, {t} AS tbl, x.bn{t} AS bn"
        f" FROM b x JOIN b y"
        f" ON x.k{t} = y.k{t} AND x.vec_id < y.vec_id"
        for t in range(4)
    )
    return f"""
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  sqrt(list_dot_product(embedding::DOUBLE[],
                       embedding::DOUBLE[])) AS n
           FROM embeddings),
b0 AS (SELECT vec_id, v, {keys} FROM c),
b AS (SELECT *, {sizes} FROM b0),
allh AS (SELECT a, b, arg_min(bn, tbl) AS first_bn
         FROM ({hit_union}) GROUP BY a, b),
cand AS (SELECT a, b FROM allh WHERE first_bn <= {DEFAULT_MAX_BUCKET_SIZE})
SELECT cand.a, cand.b,
       round(list_dot_product(xa.v, xb.v) / (xa.n * xb.n), 4) AS cosine
FROM cand
JOIN c xa ON xa.vec_id = cand.a
JOIN c xb ON xb.vec_id = cand.b
WHERE list_dot_product(xa.v, xb.v) / (xa.n * xb.n) >= {threshold}
"""


_ANN_IVF_SQL = """
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  sqrt(list_dot_product(embedding::DOUBLE[],
                       embedding::DOUBLE[])) AS n
           FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv, n AS cn
         FROM c ORDER BY vec_id LIMIT 16),
casgn AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT c.vec_id, cent.cid,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY list_dot_product(c.v, cent.cv) / (c.n * cent.cn) DESC,
                      cent.cid ASC) AS rn
    FROM c CROSS JOIN cent) t WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv, n AS qn FROM c WHERE vec_id < 10),
probes AS (
  SELECT query_id, cid AS cluster FROM (
    SELECT q.query_id, cent.cid,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY list_dot_product(q.qv, cent.cv) / (q.qn * cent.cn) DESC,
                      cent.cid ASC) AS rn
    FROM q CROSS JOIN cent) t WHERE rn <= 4
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN casgn a ON a.cluster = p.cluster
),
s AS (
  SELECT cand.query_id, cand.vec_id,
         list_dot_product(c.v, q.qv) / (c.n * q.qn) AS cos_raw
  FROM cand
  JOIN c ON c.vec_id = cand.vec_id
  JOIN q ON q.query_id = cand.query_id
),
r AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, vec_id ASC)::BIGINT AS rank,
         round(cos_raw, 4) AS cosine
  FROM s
)
SELECT query_id, vec_id, rank, cosine FROM r WHERE rank <= 5
"""

_LLR_TOPN, _LLR_MIN_C = 20, 2


_SW_SLOP = 3


def _span_or_sql() -> str:
    """Replays retrieval.span_or_query over the two ordered clauses:
    distinct start positions where EITHER clause has a valid end."""
    w = _SW_SLOP + 1
    return rf"""
WITH t AS (SELECT doc_id, list_filter(
        regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')
        AS toks FROM documents),
e AS (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM t),
pos AS (SELECT doc_id, i AS p, toks[(i+1)::INT] AS term FROM e),
sa AS (SELECT p1.doc_id, p1.p FROM pos p1
       WHERE p1.term = 'slow' AND EXISTS (
         SELECT 1 FROM pos p2 WHERE p2.doc_id = p1.doc_id
           AND p2.term = 'hash' AND p2.p > p1.p
           AND p2.p - p1.p <= {w})),
sb AS (SELECT p1.doc_id, p1.p FROM pos p1
       WHERE p1.term = 'fast' AND EXISTS (
         SELECT 1 FROM pos p2 WHERE p2.doc_id = p1.doc_id
           AND p2.term = 'merge' AND p2.p > p1.p
           AND p2.p - p1.p <= {w})),
u AS (SELECT doc_id, p FROM sa UNION SELECT doc_id, p FROM sb)
SELECT doc_id, count(*)::BIGINT AS n_spans
FROM u GROUP BY 1
"""


def _span_containing_sql() -> str:
    """Replays retrieval.span_containing_query: distinct big-span
    starts p1 with a valid end p2 and a little hit inside [p1, p2]."""
    w = _SW_SLOP + 1
    return rf"""
WITH t AS (SELECT doc_id, list_filter(
        regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')
        AS toks FROM documents),
e AS (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM t),
pos AS (SELECT doc_id, i AS p, toks[(i+1)::INT] AS term FROM e)
SELECT p1.doc_id, count(DISTINCT p1.p)::BIGINT AS n_containing
FROM pos p1
WHERE p1.term = '{_PHRASE[0]}'
  AND EXISTS (
    SELECT 1 FROM pos p2 JOIN pos p3 ON p3.doc_id = p2.doc_id
    WHERE p2.doc_id = p1.doc_id
      AND p2.term = '{_PHRASE[2]}' AND p3.term = '{_PHRASE[1]}'
      AND p2.p > p1.p AND p2.p - p1.p <= {w}
      AND p3.p >= p1.p AND p3.p <= p2.p)
GROUP BY 1
"""


def _span_within_sql() -> str:
    """Replays retrieval.span_within_query(big=(slow,batch),
    little=hash, slop=_SW_SLOP): little positions contained in some
    ordered (t1 ... t2) span, correlated EXISTS over the replayed
    position table with the engine's exact range conditions."""
    w = _SW_SLOP + 1
    return rf"""
WITH t AS (SELECT doc_id, list_filter(
        regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')
        AS toks FROM documents),
e AS (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM t),
pos AS (SELECT doc_id, i AS p, toks[(i+1)::INT] AS term FROM e)
SELECT p3.doc_id, count(*)::BIGINT AS n_within
FROM pos p3
WHERE p3.term = '{_PHRASE[1]}'
  AND EXISTS (
    SELECT 1 FROM pos p1 JOIN pos p2 ON p2.doc_id = p1.doc_id
    WHERE p1.doc_id = p3.doc_id
      AND p1.term = '{_PHRASE[0]}' AND p2.term = '{_PHRASE[2]}'
      AND p1.p <= p3.p AND p2.p >= p3.p AND p2.p > p1.p
      AND p2.p - p1.p <= {w})
GROUP BY 1
"""


def _collocations_llr_sql() -> str:
    """Replays textstats.collocations_llr: adjacent bigram counts,
    marginals, Dunning entropy-form LLR with xlx(0)=0, top-n by the
    4dp-rounded score (w1, w2 ties)."""

    def xlx(x: str) -> str:
        return (
            f"CASE WHEN {x} > 0 THEN ({x})::DOUBLE * ln(({x})::DOUBLE)"
            " ELSE 0.0 END"
        )

    llr = (
        "2.0 * ("
        + xlx("c")
        + " + " + xlx("c1 - c")
        + " + " + xlx("c2 - c")
        + " + " + xlx("n - c1 - c2 + c")
        + " - " + xlx("c1")
        + " - " + xlx("n - c1")
        + " - " + xlx("c2")
        + " - " + xlx("n - c2")
        + " + " + xlx("n")
        + ")"
    )
    return f"""
WITH t AS (SELECT doc_id, list_filter(
             regexp_split_to_array(lower(text), '[^a-z0-9]+'),
             x -> x <> '') AS tk FROM documents),
e AS (SELECT tk, unnest(range(1, len(tk))) AS i FROM t
      WHERE len(tk) >= 2),
bg AS (SELECT tk[i::INT] AS w1, tk[(i+1)::INT] AS w2,
              count(*)::BIGINT AS c FROM e GROUP BY 1, 2),
l AS (SELECT w1, sum(c)::BIGINT AS c1 FROM bg GROUP BY 1),
r AS (SELECT w2, sum(c)::BIGINT AS c2 FROM bg GROUP BY 1),
tot AS (SELECT sum(c)::BIGINT AS n FROM bg),
s AS (SELECT bg.w1, bg.w2, bg.c, round({llr}, 4) AS llr
      FROM bg JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN tot
      WHERE bg.c >= {_LLR_MIN_C}),
rk AS (SELECT w1, w2, c, llr,
              row_number() OVER (ORDER BY llr DESC, w1 ASC,
                                 w2 ASC)::BIGINT AS rank
       FROM s)
SELECT w1, w2, c, rank, llr FROM rk WHERE rank <= {_LLR_TOPN}
"""


def _centroid_classify_sql() -> str:
    """Replays textstats.centroid_classify: tf·ln(N/df) weights,
    per-source summed centroids, cosine argmax with 4dp rounding and
    label-ASC ties, confusion counts."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS},
lb AS (SELECT doc_id, source AS lbl FROM documents),
w AS (SELECT tf.doc_id, lb.lbl, tf.term,
             tf.tf * ln(s.n_docs / dft.df) AS wt
      FROM tf JOIN lb USING (doc_id) JOIN dft USING (term)
      CROSS JOIN stats s),
dnorm AS (SELECT doc_id, sqrt(sum(wt * wt)) AS dn FROM w GROUP BY 1),
cent AS (SELECT lbl, term, sum(wt) AS cw FROM w GROUP BY 1, 2),
cnorm AS (SELECT lbl, sqrt(sum(cw * cw)) AS cn FROM cent GROUP BY 1),
dots AS (SELECT w.doc_id, c.lbl AS cand, sum(w.wt * c.cw) AS dot
         FROM w JOIN cent c USING (term) GROUP BY 1, 2),
sims AS (SELECT d.doc_id, d.cand,
                round(d.dot / (dn.dn * cn.cn), 4) AS cos
         FROM dots d JOIN dnorm dn USING (doc_id)
         JOIN cnorm cn ON cn.lbl = d.cand),
pred AS (SELECT doc_id, cand AS pred_label FROM (
           SELECT doc_id, cand,
                  row_number() OVER (PARTITION BY doc_id
                      ORDER BY cos DESC, cand ASC) AS rn
           FROM sims) WHERE rn = 1)
SELECT lb.lbl AS true_label, p.pred_label,
       count(*)::BIGINT AS n_docs
FROM lb JOIN pred p USING (doc_id)
GROUP BY 1, 2
"""


def _knn_classify_sql() -> str:
    """Replays retrieval.knn_classify: per-test-doc MLT term selection
    (tf DESC, df ASC, term ASC — integer-keyed), BM25 top-(k+1), self
    excluded, top-k label vote (count DESC, label ASC), confusion."""
    contrib = (
        "ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))"
        f" * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl))"
    )
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS},
lb AS (SELECT doc_id, source AS lbl FROM documents),
tq AS (SELECT doc_id FROM documents WHERE doc_id % {_KNN_EVERY} = 0),
qterm AS (
  SELECT qdoc, term FROM (
    SELECT tf.doc_id AS qdoc, tf.term,
           row_number() OVER (PARTITION BY tf.doc_id
             ORDER BY tf.tf DESC, dft.df ASC, tf.term ASC) AS rn
    FROM tf JOIN dft USING (term)
    JOIN tq ON tf.doc_id = tq.doc_id
  ) WHERE rn <= {_KNN_TERMS}
),
sb AS (
  SELECT q.qdoc, tf.doc_id, sum({contrib}) AS s_raw
  FROM qterm q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qdoc, tf.doc_id
),
rb AS (
  SELECT qdoc, doc_id,
         row_number() OVER (PARTITION BY qdoc
           ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank
  FROM sb
),
kn AS (
  SELECT qdoc, doc_id FROM (
    SELECT qdoc, doc_id,
           row_number() OVER (PARTITION BY qdoc ORDER BY rank) AS rn
    FROM rb WHERE rank <= {_KNN_K + 1} AND doc_id <> qdoc
  ) WHERE rn <= {_KNN_K}
),
votes AS (
  SELECT kn.qdoc, lb.lbl, count(*)::BIGINT AS c
  FROM kn JOIN lb USING (doc_id) GROUP BY 1, 2
),
pred AS (
  SELECT qdoc, lbl AS pred_label FROM (
    SELECT qdoc, lbl,
           row_number() OVER (PARTITION BY qdoc
             ORDER BY c DESC, lbl ASC) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT t.lbl AS true_label, p.pred_label, count(*)::BIGINT AS n_docs
FROM pred p JOIN lb t ON t.doc_id = p.qdoc
GROUP BY 1, 2
"""


def _naive_bayes_sql() -> str:
    """Replays textstats.naive_bayes_classify: add-one multinomial NB
    with the background decomposition (ln P(c) − len·ln(T_c+V) +
    Σ tf·ln(cf_tc+1) over OBSERVED (term,class) pairs only), 4dp
    rounding before the argmax, label-ASC ties, confusion counts."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL},
lb AS (SELECT doc_id, source AS lbl FROM documents),
fl AS (SELECT tf.doc_id, lb.lbl, tf.term, tf.tf
       FROM tf JOIN lb USING (doc_id)),
ctc AS (SELECT lbl AS cand, term, sum(tf)::BIGINT AS cf_tc
        FROM fl GROUP BY 1, 2),
vocab AS (SELECT count(DISTINCT term)::BIGINT AS v FROM fl),
nd AS (SELECT count(*)::BIGINT AS n FROM dl),
pr AS (SELECT lb.lbl AS cand, count(*)::BIGINT AS nc
       FROM dl JOIN lb USING (doc_id) GROUP BY 1),
cst AS (SELECT p.cand,
               ln(p.nc::DOUBLE / nd.n) AS lnp,
               ln((t.tc + vocab.v)::DOUBLE) AS lnz
        FROM pr p
        JOIN (SELECT cand, sum(cf_tc)::BIGINT AS tc
              FROM ctc GROUP BY 1) t USING (cand)
        CROSS JOIN nd CROSS JOIN vocab),
ov AS (SELECT fl.doc_id, c.cand,
              sum(fl.tf * ln((c.cf_tc + 1)::DOUBLE)) AS ov
       FROM fl JOIN ctc c USING (term) GROUP BY 1, 2),
sc AS (SELECT dl.doc_id, cst.cand,
              round(cst.lnp - dl.doc_len * cst.lnz
                    + coalesce(ov.ov, 0.0), 4) AS ll
       FROM dl CROSS JOIN cst
       LEFT JOIN ov ON ov.doc_id = dl.doc_id AND ov.cand = cst.cand),
pred AS (SELECT doc_id, cand AS pred_label FROM (
           SELECT doc_id, cand,
                  row_number() OVER (PARTITION BY doc_id
                      ORDER BY ll DESC, cand ASC) AS rn
           FROM sc) WHERE rn = 1)
SELECT lb.lbl AS true_label, p.pred_label,
       count(*)::BIGINT AS n_docs
FROM lb JOIN pred p USING (doc_id)
GROUP BY 1, 2
"""


# SimpleQueryParser gate: AND of [term, "phrase", prefix*]; an OR
# group with a negation; a no-expansion prefix (matches nothing)
_SQS_QUERIES: list[tuple[str, str]] = [
    ("s1", 'spark "slow hash" que*'),
    ("s2", "stream|batch -dup"),
    ("s3", "zzz*"),
]


def _sqs_sql() -> str:
    """Replays retrieval.simple_query_string over _SQS_QUERIES
    structurally: s1 = spark AND phrase(slow hash) AND any(que%-
    expansion); s2 = (stream OR batch) AND NOT dup; s3 = a prefix with
    no vocabulary expansion -> zero rows. Scoring = BM25 sum over the
    matched scoring terms (group members + expansions + phrase words),
    ranked after the candidate restriction."""
    contrib = (
        "ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))"
        f" * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl))"
    )
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS},
e AS (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM
      (SELECT doc_id, list_filter(
         regexp_split_to_array(lower(text), '[^a-z0-9]+'),
         x -> x <> '') AS toks FROM documents)),
pos AS (SELECT doc_id, i AS p, toks[(i+1)::INT] AS term FROM e),
ph AS (SELECT DISTINCT p1.doc_id FROM pos p1 JOIN pos p2
         ON p2.doc_id = p1.doc_id AND p2.p = p1.p + 1
       WHERE p1.term = 'slow' AND p2.term = 'hash'),
exp1 AS (SELECT DISTINCT term FROM tf WHERE term LIKE 'que%'),
docs0 AS (SELECT DISTINCT doc_id FROM tf),
c1 AS (SELECT d.doc_id FROM docs0 d
       WHERE EXISTS (SELECT 1 FROM tf t
                     WHERE t.doc_id = d.doc_id AND t.term = 'spark')
         AND EXISTS (SELECT 1 FROM tf t JOIN exp1 x ON t.term = x.term
                     WHERE t.doc_id = d.doc_id)
         AND EXISTS (SELECT 1 FROM ph WHERE ph.doc_id = d.doc_id)),
c2 AS (SELECT d.doc_id FROM docs0 d
       WHERE EXISTS (SELECT 1 FROM tf t WHERE t.doc_id = d.doc_id
                     AND t.term IN ('stream', 'batch'))
         AND NOT EXISTS (SELECT 1 FROM tf t
                         WHERE t.doc_id = d.doc_id AND t.term = 'dup')),
cand AS (SELECT 's1' AS qid, doc_id FROM c1
         UNION ALL SELECT 's2', doc_id FROM c2),
st AS (SELECT 's1' AS qid, 'spark' AS term
       UNION ALL SELECT 's1', 'slow'
       UNION ALL SELECT 's1', 'hash'
       UNION ALL SELECT 's2', 'stream'
       UNION ALL SELECT 's2', 'batch'
       UNION ALL SELECT 's1', term FROM exp1),
scored AS (
  SELECT q.qid, tf.doc_id, sum({contrib}) AS s_raw
  FROM st q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
r AS (SELECT sc.qid, sc.doc_id,
             row_number() OVER (PARTITION BY sc.qid
                 ORDER BY sc.s_raw DESC, sc.doc_id ASC)::BIGINT AS rank,
             round(sc.s_raw, 4) AS score
      FROM scored sc JOIN cand
        ON cand.qid = sc.qid AND cand.doc_id = sc.doc_id)
SELECT qid, doc_id, rank, score FROM r WHERE rank <= {TOPK}
"""


_PQ_M, _PQ_K, _PQ_DIM, _PQ_TOPK = 4, 8, 64, 5


def _ann_pq_sql() -> str:
    """Replays annsearch.pq_adc_topk: lowest-id codebook, per-subspace
    argmin codes via DuckDB's lexicographic struct min (ties -> lower
    cid, same as Spark min(struct)), per-query ADC tables, explicit
    left-associated m-term distance sum, 4dp-rounded ordering."""
    dsub = _PQ_DIM // _PQ_M

    def l2(a: str, b: str, m: int) -> str:
        return " + ".join(
            f"({a}[{m * dsub + i + 1}] - {b}[{m * dsub + i + 1}])"
            f" * ({a}[{m * dsub + i + 1}] - {b}[{m * dsub + i + 1}])"
            for i in range(dsub)
        )

    enc_cols = ",\n         ".join(
        f"{l2('c.v', 'b.cv', m)} AS d{m}" for m in range(_PQ_M)
    )
    code_cols = ", ".join(
        f"(min(struct_pack(d := d{m}, cid := cid))).cid AS c{m}"
        for m in range(_PQ_M)
    )
    t_cols = ",\n         ".join(
        f"{l2('q.qv', 'b.cv', m)} AS t{m}" for m in range(_PQ_M)
    )
    joins = "\n  ".join(
        f"JOIN dtab d{m} ON d{m}.query_id = a.query_id"
        f" AND d{m}.cid = a.c{m}"
        for m in range(_PQ_M)
    )
    adist = " + ".join(f"d{m}.t{m}" for m in range(_PQ_M))
    return f"""
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
book AS (SELECT vec_id AS cid, v AS cv FROM c ORDER BY vec_id
         LIMIT {_PQ_K}),
enc AS (
  SELECT c.vec_id, b.cid,
         {enc_cols}
  FROM c CROSS JOIN book b
),
codes AS (SELECT vec_id, {code_cols} FROM enc GROUP BY 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 10),
dtab AS (
  SELECT q.query_id, b.cid,
         {t_cols}
  FROM q CROSS JOIN book b
),
a AS (SELECT co.vec_id, qq.query_id, {', '.join(f'co.c{m}' for m in range(_PQ_M))}
      FROM codes co CROSS JOIN (SELECT query_id FROM q) qq),
s AS (
  SELECT a.query_id, a.vec_id, round({adist}, 4) AS adist
  FROM a
  {joins}
),
r AS (
  SELECT query_id, vec_id, adist,
         row_number() OVER (PARTITION BY query_id
             ORDER BY adist ASC, vec_id ASC)::BIGINT AS rank
  FROM s
)
SELECT query_id, vec_id, rank, adist FROM r WHERE rank <= {_PQ_TOPK}
"""


# hybrid RRF: the BM25 run CTEs + an exact-cosine run over literal
# qid->vec_id query embeddings, fused by 1/(60+rank) sums (absent run
# contributes 0), re-ranked (rrf DESC, doc_id ASC) — replays
# retrieval.rrf_fuse over the same two verified run formulations
def _hybrid_rrf_sql() -> str:
    qm = ", ".join(
        f"('{qid}', {i + 1})" for i, (qid, _) in enumerate(QUERY_SET)
    )
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
bmrun AS (
  SELECT qid, doc_id, rank FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank
    FROM scored
  ) WHERE rank <= {TOPK}
),
qm(qid, vec_id) AS (VALUES {qm}),
qv AS (SELECT qm.qid, e.embedding::DOUBLE[] AS qv
       FROM qm JOIN embeddings e ON e.vec_id = qm.vec_id),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
cs AS (
  SELECT qv.qid, c.vec_id,
         list_dot_product(c.cv, qv.qv)
         / (sqrt(list_dot_product(c.cv, c.cv))
            * sqrt(list_dot_product(qv.qv, qv.qv))) AS cos_raw
  FROM c CROSS JOIN qv
),
annrun AS (
  SELECT qid, vec_id AS doc_id, rank FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cos_raw DESC, vec_id ASC)::BIGINT AS rank
    FROM cs
  ) WHERE rank <= {TOPK}
),
fused AS (
  SELECT coalesce(a.qid, b.qid) AS qid,
         coalesce(a.doc_id, b.doc_id) AS doc_id,
         coalesce(1.0 / (60 + a.rank), 0.0)
         + coalesce(1.0 / (60 + b.rank), 0.0) AS rrf_raw
  FROM bmrun a FULL OUTER JOIN annrun b
    ON a.qid = b.qid AND a.doc_id = b.doc_id
)
SELECT qid, doc_id, rank, rrf FROM (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY rrf_raw DESC, doc_id ASC)::BIGINT AS rank,
         round(rrf_raw, 4) AS rrf
  FROM fused
) WHERE rank <= {TOPK}
"""


_ANN_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
s AS (
  SELECT q.query_id, c.vec_id,
         list_dot_product(c.cv, q.qv)
         / (sqrt(list_dot_product(c.cv, c.cv))
            * sqrt(list_dot_product(q.qv, q.qv))) AS cos_raw
  FROM c CROSS JOIN q
),
r AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, vec_id ASC)::BIGINT AS rank,
         round(cos_raw, 4) AS cosine
  FROM s
)
SELECT query_id, vec_id, rank, cosine FROM r WHERE rank <= 5
"""

_CLUSTER_QUALITY_SQL = """
WITH c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qz AS (
  SELECT vec_id,
         list_transform(v, x -> round(x /
           (CASE WHEN list_max(list_transform(v, y -> abs(y))) = 0
                 THEN 1.0
                 ELSE list_max(list_transform(v, y -> abs(y))) END
            / 127.0))::BIGINT) AS q
  FROM c0
),
seeds AS MATERIALIZED (
  SELECT (row_number() OVER (ORDER BY vec_id) - 1)::BIGINT AS cid,
         list_transform(q, x -> x::DOUBLE) AS s
  FROM (SELECT vec_id, q FROM qz ORDER BY vec_id LIMIT 4)
),
qd AS (SELECT vec_id, list_transform(q, x -> x::DOUBLE) AS qdl FROM qz),
dist AS (
  SELECT qd.vec_id, s.cid,
         (list_dot_product(qd.qdl, qd.qdl)
          - 2 * list_dot_product(qd.qdl, s.s)
          + list_dot_product(s.s, s.s)) AS d2
  FROM qd CROSS JOIN seeds s
),
r AS (
  SELECT vec_id, cid, d2,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY d2, cid) AS rk
  FROM dist
),
per AS (
  SELECT a.vec_id, a.cid, a.d2::BIGINT AS a2, b.d2::BIGINT AS b2
  FROM (SELECT * FROM r WHERE rk = 1) a
  JOIN (SELECT * FROM r WHERE rk = 2) b USING (vec_id)
)
SELECT cid, count(*)::BIGINT AS n,
       round(sum(a2) * 1.0 / count(*), 4) AS avg_own_d2,
       round(sum(b2) * 1.0 / count(*), 4) AS avg_other_d2,
       sum(CASE WHEN b2 > a2 THEN 1 ELSE 0 END)::BIGINT AS n_separated
FROM per GROUP BY 1
"""


_KMEANS_STEP_SQL = """
WITH c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qz AS (
  SELECT vec_id,
         list_transform(v, x -> round(x /
           (CASE WHEN list_max(list_transform(v, y -> abs(y))) = 0
                 THEN 1.0
                 ELSE list_max(list_transform(v, y -> abs(y))) END
            / 127.0))::BIGINT) AS q
  FROM c0
),
seeds AS MATERIALIZED (
  SELECT (row_number() OVER (ORDER BY vec_id) - 1)::BIGINT AS cid,
         list_transform(q, x -> x::DOUBLE) AS s
  FROM (SELECT vec_id, q FROM qz ORDER BY vec_id LIMIT 4)
),
qd AS (SELECT vec_id, q,
              list_transform(q, x -> x::DOUBLE) AS qdl FROM qz),
dist AS (
  SELECT qd.vec_id, s.cid,
         (list_dot_product(qd.qdl, qd.qdl)
          - 2 * list_dot_product(qd.qdl, s.s)
          + list_dot_product(s.s, s.s)) AS d2
  FROM qd CROSS JOIN seeds s
),
assign AS (
  SELECT vec_id, (min(struct_pack(d := d2, c := cid))).c AS cid
  FROM dist GROUP BY 1
),
flat AS (
  SELECT a.cid, i AS dim, q.q[i]::BIGINT AS code
  FROM assign a JOIN qz q USING (vec_id),
       unnest(generate_series(1, 64)) AS g(i)
)
SELECT cid, dim::BIGINT AS dim, count(*)::BIGINT AS n_assigned,
       round(sum(code) * 1.0 / count(*), 4) AS mean_code
FROM flat GROUP BY 1, 2
"""


_JL_OUT = 8


def _jl_sql() -> str:
    """Replays annsearch.jl_project 64->8: the SAME python-computed
    mix-parity sign literals, explicit left-assoc +/- chains over
    list_extract, one 1/sqrt(8) multiply emitted via repr."""
    import math as _m

    from luc4ir_spark.functions.hashing import MIX_A, MIX_B, MIX_P

    inv = repr(1.0 / _m.sqrt(float(_JL_OUT)))
    outs = []
    for j in range(_JL_OUT):
        parts = []
        for i in range(64):
            sign = (
                1
                if (MIX_A * ((i * _JL_OUT + j) % MIX_P) + MIX_B)
                % MIX_P % 2 == 1
                else -1
            )
            t = f"list_extract(v, {i + 1})"
            if not parts:
                parts.append(t if sign > 0 else f"-{t}")
            else:
                parts.append((" + " if sign > 0 else " - ") + t)
        outs.append(
            f"round(({''.join(parts)}) * {inv}, 4) AS y{j}"
        )
    sel = ",\n       ".join(outs)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT vec_id,
       {sel}
FROM e
"""


_MUTUAL_NN_SQL = """
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT a.vec_id AS qid, b.vec_id AS tid,
         list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v))
            * sqrt(list_dot_product(b.v, b.v))) AS cos_raw
  FROM c a JOIN c b ON a.vec_id <> b.vec_id
),
nn AS MATERIALIZED (
  SELECT qid, tid, cos_raw FROM (
    SELECT qid, tid, cos_raw,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cos_raw DESC, tid ASC) AS r
    FROM s
  ) WHERE r = 1
)
SELECT l.qid AS a, l.tid AS b, round(l.cos_raw, 4) AS cosine
FROM nn l JOIN nn r
  ON l.tid = r.qid AND r.tid = l.qid AND l.qid < l.tid
"""


_MARKERS_SQL = {
    lang: ", ".join(f"'{w}'" for w in ts.LANG_MARKERS[lang])
    for lang in sorted(ts.LANG_MARKERS)
}

def _pii_sql() -> str:
    """PII-redaction oracle, generated from textstats.PII_PATTERNS so
    the category list/order can't drift. The gate plants one email, one
    dotted quad, and one phone per doc (derived from doc_id); each
    category is counted on the previous stage's redacted text, exactly
    like the operator."""
    aug = (
        "text || ' user' || doc_id::VARCHAR || '@example.com'"
        " || ' 10.0.' || (doc_id % 256)::VARCHAR || '.7'"
        " || ' call 555-01' || lpad((doc_id % 100)::VARCHAR, 2, '0')"
        " || '-2345'"
    )
    ctes = [f"s0 AS (SELECT doc_id, {aug} AS t0 FROM documents)"]
    for i, (name, pat) in enumerate(ts.PII_PATTERNS):
        ctes.append(
            f"s{i + 1} AS (SELECT doc_id,"
            + "".join(f" n_{n}," for n, _ in ts.PII_PATTERNS[:i])
            + f" len(regexp_extract_all(t{i}, '{pat}'))::BIGINT"
            f" AS n_{name},"
            f" regexp_replace(t{i}, '{pat}', '[PII]', 'g') AS t{i + 1}"
            f" FROM s{i})"
        )
    last = len(ts.PII_PATTERNS)
    names = ", ".join(f"n_{n}" for n, _ in ts.PII_PATTERNS)
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT doc_id, {names}, t{last} AS clean FROM s{last}"
    )


def _cc_sql() -> str:
    """cc_redaction oracle: replays the Luhn-validated card scrub —
    candidates via regexp_extract_all over the augmented text, the
    checksum as list_sum over the digit positions (identical
    arithmetic to the operator's aggregate() fold), and the
    replacement as list_reduce seeded with the text itself
    ([text] || valid_cands — DuckDB list_reduce has no initial-value
    parameter, and text/candidates are both VARCHAR so the seed trick
    types out). The candidate regex is textstats.CC_CANDIDATE
    verbatim; the planted literals come from _CC_SAMPLES so the two
    sides can't drift."""
    cases = " ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(_CC_SAMPLES)
    )
    n = len(_CC_SAMPLES)
    d = "regexp_replace(c, '[^0-9]', '', 'g')"
    digit = f"ascii(substring({d}, i, 1)) - 48"
    pred = (
        f"length({d}) >= 13 AND length({d}) <= 19 AND "
        f"list_sum(list_transform(range(1, length({d}) + 1), i -> "
        f"CASE WHEN (length({d}) - i) % 2 = 1 THEN "
        f"CASE WHEN ({digit}) * 2 > 9 THEN ({digit}) * 2 - 9 "
        f"ELSE ({digit}) * 2 END "
        f"ELSE {digit} END)) % 10 = 0"
    )
    return f"""
WITH aug AS (
  SELECT doc_id,
         text || ' ' || CASE doc_id % {n} {cases} END AS t
  FROM documents
),
v AS (
  SELECT doc_id, t,
         list_filter(
           regexp_extract_all(t, '{ts.CC_CANDIDATE}'),
           c -> {pred}) AS valid
  FROM aug
)
SELECT doc_id,
       len(valid)::BIGINT AS n_cc,
       list_reduce([t] || valid,
                   (acc, c) -> replace(acc, c, '[CC]')) AS clean
FROM v
"""


# Gopher-style repetition signals: mode counts per doc via plain
# group-by in SQL (the Spark side computes the same numbers with a
# zero-shuffle sort + fold over each doc's token array)
_REPETITION_SQL = """
WITH lists AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
         '[^a-z0-9]+'), x -> x <> '') AS l,
         list_filter(string_split(text, chr(10)), x -> x <> '') AS ls
  FROM documents
),
uni AS (
  SELECT doc_id, term, count(*)::BIGINT AS c
  FROM (SELECT doc_id, unnest(l) AS term FROM lists) t
  GROUP BY 1, 2
),
topuni AS (SELECT doc_id, max(c)::BIGINT AS topc FROM uni GROUP BY 1),
big AS (
  SELECT doc_id, max(c)::BIGINT AS topb FROM (
    SELECT doc_id, l[i.i + 1] || ' ' || l[i.i + 2] AS bg,
           count(*)::BIGINT AS c
    FROM lists, unnest(range(greatest(len(l) - 1, 0))) AS i(i)
    GROUP BY 1, 2
  ) GROUP BY 1
)
SELECT ll.doc_id,
  len(ll.ls)::BIGINT AS n_lines,
  CASE WHEN len(ll.ls) > 0
       THEN round((len(ll.ls) - len(list_distinct(ll.ls)))
                  / len(ll.ls)::DOUBLE, 4) ELSE 0.0 END AS dup_line_frac,
  CASE WHEN len(ll.l) > 0
       THEN round(coalesce(u.topc, 0) / len(ll.l)::DOUBLE, 4)
       ELSE 0.0 END AS top_unigram_frac,
  CASE WHEN len(ll.l) - 1 > 0
       THEN round(coalesce(b.topb, 0) / (len(ll.l) - 1)::DOUBLE, 4)
       ELSE 0.0 END AS top_bigram_frac
FROM lists ll
LEFT JOIN topuni u USING (doc_id)
LEFT JOIN big b USING (doc_id)
"""

_QUALITY_SQL = f"""
WITH {_TOKS},
counts AS (SELECT doc_id, count(*)::DOUBLE AS n_tok FROM toks GROUP BY 1),
stops AS (
  SELECT doc_id, count(DISTINCT term)::DOUBLE AS n_stop
  FROM toks WHERE term IN ({_MARKERS_SQL["en"]}) GROUP BY 1
),
base AS (
  SELECT doc_id, length(text)::DOUBLE AS n_char,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE AS n_alpha,
         length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{{}}]', '', 'g'))::DOUBLE AS n_punct
  FROM documents
),
m AS (
  SELECT b.doc_id, coalesce(c.n_tok, 0) AS n_tok, b.n_char, b.n_alpha,
         b.n_punct, coalesce(s.n_stop, 0) AS n_stop
  FROM base b LEFT JOIN counts c USING (doc_id) LEFT JOIN stops s USING (doc_id)
)
SELECT doc_id, n_tok::BIGINT AS n_tokens,
  round(CASE WHEN n_char > 0 THEN n_alpha / n_char ELSE 0 END, 4) AS alpha_ratio,
  round(CASE WHEN n_char > 0 THEN n_punct / n_char ELSE 0 END, 4) AS punct_ratio,
  round(CASE WHEN least(n_tok, 10) > 0 THEN n_stop / least(n_tok, 10) ELSE 0 END, 4) AS stop_ratio,
  round(CASE WHEN n_tok > 0 THEN n_alpha / n_tok ELSE 0 END, 4) AS mean_word_len,
  round(0.3 * least(n_tok / 20.0, 1.0)
      + 0.3 * (CASE WHEN n_char > 0 THEN n_alpha / n_char ELSE 0 END)
      + 0.2 * (CASE WHEN least(n_tok, 10) > 0 THEN n_stop / least(n_tok, 10) ELSE 0 END)
      + 0.2 * (1.0 - least((CASE WHEN n_char > 0 THEN n_punct / n_char ELSE 0 END) * 5.0, 1.0)),
    4) AS quality
FROM m
"""

_READABILITY_SQL = """
WITH d AS (
  SELECT doc_id,
         text || repeat('. more words here', (doc_id % 3)::INT) || '.'
           AS text
  FROM documents
),
t AS (
  SELECT doc_id, lower(text) AS low,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM d
),
b AS (
  SELECT doc_id, len(toks)::BIGINT AS n_words,
         greatest(len(regexp_extract_all(low, '[.!?]+')), 1)::BIGINT
           AS n_sentences,
         (len(regexp_extract_all(low, '[aeiouy]+'))
          + len(list_filter(toks,
                x -> NOT regexp_matches(x, '[aeiouy]'))))::BIGINT
           AS n_syllables
  FROM t WHERE len(toks) > 0
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       round(206.835::DOUBLE
             - 1.015::DOUBLE * (n_words / n_sentences)
             - 84.6::DOUBLE * (n_syllables / n_words), 4) AS flesch
FROM b
"""


def _langid_sql() -> str:
    """Generated from ts.LANG_MARKERS so widening the marker table keeps
    the oracle in sync; the CASE checks languages in sorted order, which
    replays the engine's (hits desc, lang asc) tie-break exactly."""
    langs = sorted(ts.LANG_MARKERS)
    hit_exprs = ",\n    ".join(
        f"count(DISTINCT CASE WHEN term IN ({_MARKERS_SQL[lg]})"
        f" THEN term END) AS {lg}_h"
        for lg in langs
    )
    coal = ", ".join(f"coalesce(h.{lg}_h, 0) AS {lg}_h" for lg in langs)
    top = "greatest(" + ", ".join(f"{lg}_h" for lg in langs) + ")"
    cases = "\n       ".join(
        f"WHEN {lg}_h = {top} THEN '{lg}'" for lg in langs[:-1]
    )
    return f"""
WITH {_TOKS},
hits AS (
  SELECT doc_id,
    {hit_exprs}
  FROM toks GROUP BY 1
),
m AS (
  SELECT d.doc_id, {coal}
  FROM documents d LEFT JOIN hits h USING (doc_id)
)
SELECT doc_id,
  CASE WHEN {top} < 1 THEN 'und'
       {cases}
       ELSE '{langs[-1]}' END AS lang_guess,
  {top}::BIGINT AS marker_hits
FROM m
"""


_LANGID_SQL = _langid_sql()


# gate config for document chunking: small windows so the 5k-token-max
# synthetic docs produce multi-chunk output (stride = 40 - 8 = 32)
_CHUNK_TOKENS = 40
_CHUNK_OVERLAP = 8


def _chunk_documents_sql() -> str:
    """Replays textstats.chunk_documents: whitespace tokens, n_chunks =
    ceil(max(n_tok - overlap, 1) / stride), 1-based inclusive list
    slices (DuckDB list_slice clamps the end like Spark's slice clamps
    length)."""
    ct, ov = _CHUNK_TOKENS, _CHUNK_OVERLAP
    stride = ct - ov
    return rf"""
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
         x -> x <> '') AS toks
  FROM documents
),
n AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS n_tok
  FROM t WHERE len(toks) > 0
),
e AS (
  SELECT doc_id, toks,
         unnest(range(ceil(greatest(n_tok - {ov}, 1)
                           / {stride}.0)::BIGINT)) AS i
  FROM n
)
SELECT doc_id, i::BIGINT AS chunk_idx,
  len(list_slice(toks, (i * {stride} + 1)::INT,
      (i * {stride} + {ct})::INT))::BIGINT AS n_chunk_tokens,
  array_to_string(list_slice(toks, (i * {stride} + 1)::INT,
      (i * {stride} + {ct})::INT), ' ') AS chunk_text
FROM e
"""


def _dedup_lines_sql() -> str:
    """Replays dedup.dedup_lines over the derived multi-line corpus
    (every 'value' token becomes a newline — same replace() on both
    engines): trimmed lines appearing in >= 2 distinct docs are dropped
    everywhere, docs reassembled from survivors in original order
    (string_agg skips the CASE NULLs exactly as array_join over the
    filtered array does)."""
    return r"""
WITH base AS (
  SELECT doc_id, replace(text, 'value', chr(10)) AS text FROM documents
),
l AS (
  SELECT doc_id, ls, unnest(range(len(ls))) AS i
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM base)
),
lines AS (
  SELECT doc_id, i::BIGINT AS idx, ls[(i + 1)::INT] AS raw,
         trim(ls[(i + 1)::INT]) AS line
  FROM l
),
boiler AS (
  SELECT line FROM lines WHERE length(line) >= 1
  GROUP BY line HAVING count(DISTINCT doc_id) >= 2
),
flagged AS (
  SELECT n.doc_id, n.idx, n.raw,
         (length(n.line) >= 1 AND b.line IS NOT NULL) AS is_dup
  FROM lines n LEFT JOIN boiler b ON n.line = b.line
)
SELECT doc_id,
  coalesce(string_agg(CASE WHEN NOT is_dup THEN raw END, chr(10)
                      ORDER BY idx), '') AS clean_text,
  sum(CASE WHEN NOT is_dup THEN 1 ELSE 0 END)::BIGINT AS n_kept,
  sum(CASE WHEN is_dup THEN 1 ELSE 0 END)::BIGINT AS n_dropped
FROM flagged GROUP BY doc_id
"""


_WARC_SQL = r"""
WITH rec AS (
  SELECT source, doc_id,
         'WARC/1.0' || chr(13) || chr(10)
         || 'WARC-Type: response' || chr(13) || chr(10)
         || 'WARC-Target-URI: https://h' || (doc_id % 10)
         || '.example.com/p/' || doc_id || chr(13) || chr(10)
         || 'Content-Length: ' || n_chars || chr(13) || chr(10)
         || chr(13) || chr(10) || substr(text, 1, 20) AS p
  FROM documents
),
blob AS (
  SELECT source AS file_id, string_agg(p, '' ORDER BY doc_id) AS warc
  FROM rec GROUP BY 1
),
sp AS (
  SELECT file_id,
         regexp_split_to_array(warc, 'WARC/1\.0\r\n') AS parts
  FROM blob
),
e AS (
  SELECT file_id, (i - 1)::BIGINT AS seq, parts[i::INT] AS r
  FROM sp, unnest(range(1, len(parts) + 1)) AS rr(i)
  WHERE parts[i::INT] <> ''
)
SELECT file_id, seq,
       regexp_extract(r, 'WARC-Type: ([^\r\n]+)', 1) AS warc_type,
       regexp_extract(r, 'WARC-Target-URI: ([^\r\n]+)', 1)
         AS target_uri,
       nullif(regexp_extract(r, 'Content-Length: ([0-9]+)', 1), '')
         ::BIGINT AS content_length,
       regexp_extract(r, '(?s)\r\n\r\n(.*)$', 1) AS body
FROM e WHERE regexp_extract(r, 'WARC-Type: ([^\r\n]+)', 1) <> ''
"""


def _host_gini_sql() -> str:
    """Replays textstats.group_gini over the normalized hosts: exact
    discrete Gini with integer numerator, one division."""
    return f"""
WITH {_url_norm_ctes()},
sizes AS (SELECT host AS g, count(*)::BIGINT AS x
          FROM p3 GROUP BY 1),
ranked AS (SELECT x, row_number() OVER (ORDER BY x ASC, g ASC) AS i
           FROM sizes),
agg AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS total,
               sum(i * x)::BIGINT AS ix
        FROM ranked)
SELECT n AS n_groups, total,
       round((2 * ix - (n + 1) * total) / (n * total), 4) AS gini
FROM agg
"""


_SITEMAP_SQL = r"""
WITH piece AS (
  SELECT source, doc_id,
         '<url><loc>https://h' || (doc_id % 10) || '.example.com/p/'
         || doc_id || '</loc>' ||
         CASE WHEN doc_id % 2 = 0
              THEN '<lastmod>2026-01-'
                   || lpad(((doc_id % 28) + 1)::VARCHAR, 2, '0')
                   || '</lastmod>'
              ELSE '' END || '</url>' AS p
  FROM documents
),
sm AS (
  SELECT source AS sitemap_id,
         '<urlset>' || string_agg(p, '' ORDER BY doc_id)
         || '</urlset>' AS xml
  FROM piece GROUP BY 1
),
b AS (
  SELECT sitemap_id,
         regexp_extract_all(xml, '<url>(.*?)</url>', 1) AS blocks
  FROM sm
),
e AS (
  SELECT sitemap_id, i::BIGINT AS seq, blocks[i::INT] AS blk
  FROM b, unnest(range(1, len(blocks) + 1)) AS r(i)
)
SELECT sitemap_id, seq,
       regexp_extract(blk, '<loc>([^<]+)</loc>', 1) AS url,
       regexp_extract(blk, '<lastmod>([^<]+)</lastmod>', 1) AS lastmod
FROM e WHERE regexp_extract(blk, '<loc>([^<]+)</loc>', 1) <> ''
"""


_GAZ_ENTITIES = ("spark", "customer value", "fast merge", "zz-absent")


def _gazetteer_sql() -> str:
    """Replays textstats.gazetteer_extract: length-replace mention
    counts + strpos first offsets over the literal entity rows."""
    vals = ", ".join(f"('{e}')" for e in _GAZ_ENTITIES)
    return f"""
WITH ent(entity) AS (VALUES {vals}),
h AS (
  SELECT d.doc_id, ent.entity,
         ((length(d.text) - length(replace(d.text, ent.entity, '')))
          / length(ent.entity))::BIGINT AS n_mentions,
         strpos(d.text, ent.entity)::BIGINT AS first_offset
  FROM documents d CROSS JOIN ent
)
SELECT doc_id, entity, n_mentions, first_offset
FROM h WHERE n_mentions > 0
"""


_BP_STOPS = ("the", "a")   # function words present in the synth vocab
_BP_FRAC = (1, 20)         # keep lines with >= 5% stopword density


def _boilerplate_sql() -> str:
    """Replays textstats.boilerplate_strip over the same derived
    multi-line corpus as dedup_lines: per trimmed line, token count
    and duplicate-inclusive stopword count, keep by min_tokens AND the
    integer cross-multiplied density test, doc rebuilt from kept lines
    in order (string_agg skips the CASE NULLs)."""
    stops = ", ".join(f"'{s}'" for s in _BP_STOPS)
    num, den = _BP_FRAC
    tk = (
        "list_filter(regexp_split_to_array(lower(line), '[^a-z0-9]+'),"
        " x -> x <> '')"
    )
    return rf"""
WITH base AS (
  SELECT doc_id, replace(text, 'value', chr(10)) AS text FROM documents
),
l AS (
  SELECT doc_id, ls, unnest(range(len(ls))) AS i
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM base)
),
lines AS (
  SELECT doc_id, i::BIGINT AS idx, trim(ls[(i + 1)::INT]) AS line
  FROM l
),
s AS (
  SELECT doc_id, idx, line,
         len({tk}) AS nt,
         len(list_filter({tk}, t -> list_contains([{stops}], t))) AS ns
  FROM lines
),
k AS (
  SELECT doc_id, idx, line,
         (nt >= 3 AND ns * {den} >= {num} * nt) AS keep
  FROM s
)
SELECT doc_id, count(*)::BIGINT AS n_lines,
       sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
                           ORDER BY idx), '') AS text_clean
FROM k GROUP BY doc_id
"""


# gate config for the hash-stratified sampler: downsample per language
_SAMPLE_RATES = {"en": 0.5, "es": 0.2}
_SAMPLE_SEED = 7
_SAMPLE_DEFAULT = 0.05
_SAMPLE_RES = 10000


def _sample_stratified_sql() -> str:
    """Replays utilsops.sample_hash_stratified: the engine-portable mix
    hash (functions/hashing.py — all intermediates < 2^63, doc_id and
    seed non-negative so DuckDB's C-style % equals Spark's pmod) and the
    per-stratum rate thresholds, generated from the same constants."""
    from luc4ir_spark.functions import hashing as hx

    case = "CASE " + "".join(
        f"WHEN lang = '{k}' THEN {int(round(v * _SAMPLE_RES))} "
        for k, v in sorted(_SAMPLE_RATES.items())
    ) + f"ELSE {int(round(_SAMPLE_DEFAULT * _SAMPLE_RES))} END"
    bucket = (
        f"(({hx.MIX_A} * ((doc_id + {_SAMPLE_SEED}) % {hx.MIX_P})"
        f" + {hx.MIX_B}) % {hx.MIX_P}) % {_SAMPLE_RES}"
    )
    return f"SELECT doc_id, lang FROM documents WHERE {bucket} < {case}"


_TEMP_BUDGET = 5000  # temperature_mix gate: token budget


def _hygiene_funnel_sql() -> str:
    """Composes the already-gated stage oracles into the cascade
    counts: distinct-digest representatives, quality keepers, raw-xent
    <= 3.41 LM keepers."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL},
cf2 AS (SELECT term, count(*)::BIGINT AS cf FROM toks GROUP BY 1),
tot AS (SELECT count(*)::DOUBLE AS c FROM toks),
xe AS (
  SELECT tf.doc_id FROM tf JOIN cf2 USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN tot t
  GROUP BY tf.doc_id, dl.doc_len
  HAVING -sum(tf.tf * ln(cf2.cf / t.c)) / dl.doc_len <= 3.41
),
qf AS (SELECT doc_id, keep FROM ({_quality_filter_sql()})),
reps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
s3 AS (SELECT r.doc_id FROM reps r JOIN qf USING (doc_id)
       WHERE qf.keep),
s4 AS (SELECT doc_id FROM s3 WHERE doc_id IN (SELECT doc_id FROM xe))
SELECT 1::BIGINT AS stage, 'raw' AS name,
       (SELECT count(*) FROM documents)::BIGINT AS n_docs
UNION ALL SELECT 2::BIGINT, 'exact_dedup',
       (SELECT count(*) FROM reps)::BIGINT
UNION ALL SELECT 3::BIGINT, 'quality',
       (SELECT count(*) FROM s3)::BIGINT
UNION ALL SELECT 4::BIGINT, 'lm_xent',
       (SELECT count(*) FROM s4)::BIGINT
"""


def _weighted_sample_sql() -> str:
    """Replays sample_weighted: same mix-derived u, pow(u, 1/w),
    top-25 by (key DESC, doc_id ASC)."""
    from luc4ir_spark.functions import hashing as hx

    mixv = (
        f"(({hx.MIX_A} * ((doc_id + {_SAMPLE_SEED}) % {hx.MIX_P})"
        f" + {hx.MIX_B}) % {hx.MIX_P})"
    )
    return f"""
WITH k AS (
  SELECT doc_id, n_chars::BIGINT AS weight,
         pow(({mixv} + 1)::DOUBLE / {float(hx.MIX_P)!r},
             1.0 / greatest(n_chars::DOUBLE, 1.0)) AS key
  FROM documents
),
t AS (SELECT * FROM k ORDER BY key DESC, doc_id ASC LIMIT 25)
SELECT doc_id, weight, round(key, 4) AS key,
       row_number() OVER (ORDER BY key DESC, doc_id ASC)::BIGINT AS rank
FROM t
"""


def _assign_splits_sql() -> str:
    """Replays utilsops.assign_splits: the same mix bucket, integer
    thresholds generated from the same fracs."""
    from luc4ir_spark.functions import hashing as hx

    t = int(round(0.1 * _SAMPLE_RES))
    v = int(round(0.1 * _SAMPLE_RES))
    bucket = (
        f"(({hx.MIX_A} * ((doc_id + {_SAMPLE_SEED}) % {hx.MIX_P})"
        f" + {hx.MIX_B}) % {hx.MIX_P}) % {_SAMPLE_RES}"
    )
    return f"""
SELECT doc_id,
       CASE WHEN {bucket} < {t} THEN 'test'
            WHEN {bucket} < {t + v} THEN 'val'
            ELSE 'train' END AS split
FROM documents
"""


def _temperature_mix_sql() -> str:
    """Replays sample_temperature_mix: per-source token mass,
    isqrt via floor(sqrt(...)) (IEEE sqrt is correctly rounded, so
    this equals Python's math.isqrt below 2^52), all-integer
    thresholds, the portable mix-hash bucket rule."""
    from luc4ir_spark.functions import hashing as hx

    bucket = (
        f"(({hx.MIX_A} * ((d.doc_id + {_SAMPLE_SEED}) % {hx.MIX_P})"
        f" + {hx.MIX_B}) % {hx.MIX_P}) % {_SAMPLE_RES}"
    )
    return rf"""
WITH tt AS (
  SELECT source, len(list_filter(regexp_split_to_array(lower(text),
         '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS n_tok
  FROM documents
),
ns AS (SELECT source, sum(n_tok)::BIGINT AS n_s FROM tt
       GROUP BY 1 HAVING sum(n_tok) > 0),
sq AS (SELECT source, n_s, floor(sqrt(n_s))::BIGINT AS s_s FROM ns),
tot AS (SELECT sum(s_s)::BIGINT AS st FROM sq),
th AS (
  SELECT source,
         least({_SAMPLE_RES},
               ({_SAMPLE_RES} * {_TEMP_BUDGET} * s_s) // (t.st * n_s))
           AS th
  FROM sq CROSS JOIN tot t
)
SELECT d.doc_id, d.source
FROM documents d JOIN th USING (source)
WHERE {bucket} < th.th
"""


def _corpus_composition_sql() -> str:
    """Per-source corpus-mix oracle over the (already-gated) per-doc
    quality signals; share computed over the aggregated relation."""
    return f"""
WITH q AS ({_QUALITY_SQL}),
agg AS (
  SELECT d.source AS stratum, count(*)::BIGINT AS n_docs,
         sum(q.n_tokens)::BIGINT AS n_tokens,
         round(avg(q.quality), 4) AS mean_quality
  FROM documents d JOIN q USING (doc_id) GROUP BY 1
)
SELECT stratum, n_docs, n_tokens, mean_quality,
       round(n_docs / sum(n_docs) OVER (), 4) AS doc_share
FROM agg
"""


def _quality_filter_sql() -> str:
    """Composite keep/drop oracle: joins the three (already-gated)
    signal oracles and replays the threshold checks, generated from
    textstats.QUALITY_FILTER_DEFAULTS so the SQL can't drift from the
    operator. concat_ws skips NULL CASE arms in both engines, giving
    identical fixed-order reason lists."""
    d = ts.QUALITY_FILTER_DEFAULTS
    langs = ", ".join(f"'{x}'" for x in d["allowed_langs"])
    checks = ",\n    ".join([
        f"CASE WHEN n_tokens < {d['min_tokens']} THEN 'short' END",
        f"CASE WHEN quality < {d['min_quality']} THEN 'low_quality' END",
        f"CASE WHEN top_unigram_frac > {d['max_top_unigram']}"
        " THEN 'repetitive' END",
        f"CASE WHEN dup_line_frac > {d['max_dup_line']}"
        " THEN 'dup_lines' END",
        f"CASE WHEN lang_guess NOT IN ({langs}) THEN 'lang' END",
        f"CASE WHEN mean_word_len < {d['min_word_len']}"
        f" OR mean_word_len > {d['max_word_len']} THEN 'word_len' END",
    ])
    return f"""
WITH m AS (
  SELECT q.doc_id, q.n_tokens, q.quality, q.mean_word_len,
         r.top_unigram_frac, r.dup_line_frac, l.lang_guess
  FROM ({_QUALITY_SQL}) q
  JOIN ({_REPETITION_SQL}) r USING (doc_id)
  JOIN ({_LANGID_SQL}) l USING (doc_id)
),
f AS (SELECT m.*, concat_ws(',',
    {checks}) AS reasons FROM m)
SELECT doc_id, n_tokens, quality, top_unigram_frac, dup_line_frac,
       lang_guess, mean_word_len, reasons = '' AS keep, reasons
FROM f
"""


# SemDeDup gate geometry: 8 first-by-id centroids over the 500-vector
# sf0.01 table gives balanced 48-70-member clusters; 0.4 is boundary-
# safe (closest pair cosine is 1.3e-4 away, and both engines compute
# bit-identical doubles anyway). The cluster cap is modeled in the
# oracle even though no sf0.01 cluster comes near it.
_SEMDEDUP_K = 8
_SEMDEDUP_THRESHOLD = 0.4
_SEMDEDUP_MAX_CLUSTER = 100_000
# every sf0.01 source has exactly 25 docs — cap 10 so the gate PRUNES
# (200 of 500 kept), not just passes everything through
_SOURCE_CAP = 10
_SOURCE_CAP_SEED = 7
# 4-token spans give the synthetic corpus a meaningful duplicated-span
# mass (308 spans, 638 occurrences at sf0.01); 50 is the crawl default
_SPAN_TOKENS = 4
# classifier gate: md5-derived INTEGER pseudo-weights in [-1000, 1000].
# Integer weights make sum(tf * w) exact in float64 regardless of fold
# order, so logit = wsum / doc_len is BIT-identical on both engines
# (one IEEE division of identical operands) and 4dp rounding can never
# disagree — a fractional n/1000 grid put ~1% of docs exactly on
# halfway rounding boundaries where reorder ulps flipped the 4th
# decimal. Bias 0, threshold 0.5 (logit cut 0.0, sign of an exact sum).
_CLS_WEIGHT_SQL = (
    "((('0x' || substr(md5(term), 1, 15))::BIGINT % 2001) - 1000)"
    "::DOUBLE"
)
_MLT_DOC = 3
_MLT_TERMS = 5


def _classifier_calibration_sql() -> str:
    """Replays evaluation.calibration_bins over the classifier_score
    sigmoid scores + mix-parity labels: equal-width floor bins (safe —
    logits are bit-identical cross-engine), per-bin mean score and
    observed positive rate."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL},
w AS (SELECT DISTINCT term, {_CLS_WEIGHT_SQL} AS weight FROM toks),
s AS (SELECT tf.doc_id, sum(tf.tf * w.weight) / dl.doc_len AS logit
      FROM tf JOIN w USING (term) JOIN dl ON tf.doc_id = dl.doc_id
      GROUP BY tf.doc_id, dl.doc_len),
p AS (SELECT doc_id, 1.0 / (1.0 + exp(-logit)) AS score FROM s),
l AS (SELECT doc_id,
             ((2654435761 * (doc_id % 2147483647) + 2246822519)
              % 2147483647) % 2 AS label
      FROM documents),
j AS (SELECT p.score, l.label FROM p JOIN l USING (doc_id)),
g AS (SELECT least(floor(score * 10), 9)::BIGINT AS bin,
             count(*)::BIGINT AS n,
             sum(label)::BIGINT AS n_pos,
             avg(score) AS mean_score
      FROM j GROUP BY 1)
SELECT bin, n, n_pos, round(mean_score, 4) AS mean_score,
       round(n_pos::DOUBLE / n::DOUBLE, 4) AS pos_rate
FROM g
"""


def _semantic_dedup_sql() -> str:
    """Replays annsearch.semantic_dedup: centroids = the K lowest-id
    vectors (recomputed from the table — the engine collects the same
    rows as literals), assignment = argmax cosine with lowest-cid
    tie-break (row_number cos DESC, cid ASC == the engine's first-index-
    of-array-max), drop rule = any lower-id same-cluster neighbor at
    cosine >= threshold, with oversized clusters exempt from the pair
    scan. list_dot_product on DOUBLE[] folds left-to-right like the
    engine's element_at sum — bit-identical cosines on both sides."""
    return f"""
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v,
            sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
           FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv, n AS cn FROM c
         WHERE vec_id IN (SELECT vec_id FROM embeddings
                          ORDER BY vec_id LIMIT {_SEMDEDUP_K})),
scored AS (SELECT c.vec_id, cent.cid,
             list_dot_product(c.v, cent.cv) / (c.n * cent.cn) AS cos
           FROM c CROSS JOIN cent),
asg AS (SELECT vec_id, cluster_id FROM
         (SELECT vec_id, cid AS cluster_id,
            row_number() OVER (PARTITION BY vec_id
                               ORDER BY cos DESC, cid ASC) AS rn
          FROM scored) WHERE rn = 1),
sz AS (SELECT cluster_id, count(*)::BIGINT AS cnt FROM asg GROUP BY 1),
dropped AS (SELECT DISTINCT r.vec_id AS b
  FROM asg l JOIN asg r ON l.cluster_id = r.cluster_id
                       AND l.vec_id < r.vec_id
  JOIN sz ON sz.cluster_id = l.cluster_id
  JOIN c ca ON ca.vec_id = l.vec_id
  JOIN c cb ON cb.vec_id = r.vec_id
  WHERE sz.cnt <= {_SEMDEDUP_MAX_CLUSTER}
    AND list_dot_product(ca.v, cb.v) / (ca.n * cb.n)
        >= {_SEMDEDUP_THRESHOLD})
SELECT vec_id, cluster_id FROM asg
WHERE vec_id NOT IN (SELECT b FROM dropped)
"""


def _source_cap_sql() -> str:
    """Replays utilsops.sample_stratum_cap: per-source row_number over
    the engine-portable mix hash (doc_id + seed non-negative, so
    DuckDB's % equals Spark's pmod), doc_id tie-break."""
    from luc4ir_spark.functions import hashing as hx

    key = (
        f"(({hx.MIX_A} * ((doc_id + {_SOURCE_CAP_SEED}) % {hx.MIX_P})"
        f" + {hx.MIX_B}) % {hx.MIX_P})"
    )
    return (
        "SELECT doc_id, source FROM (SELECT doc_id, source,"
        " row_number() OVER (PARTITION BY source"
        f" ORDER BY {key} ASC, doc_id ASC) AS rn FROM documents)"
        f" WHERE rn <= {_SOURCE_CAP}"
    )


# the gate phrase: "slow hash batch" occurs 8 times at sf0.01
_PHRASE = ["slow", "hash", "batch"]
# MUST_NOT gate exclusion: 'dup' is the one rare term at sf0.01
# (df=25 of 500), so exclusion prunes real candidates without
# emptying any query's run
_EXCLUDE_TERM = "dup"


def _bm25_must_not_sql() -> str:
    """The _bm25_sql body with BooleanQuery MUST_NOT: docs containing
    the excluded term leave the candidate set BEFORE ranking."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q
  JOIN dft USING (term)
  JOIN tf  USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  WHERE NOT EXISTS (SELECT 1 FROM tf x
                    WHERE x.doc_id = tf.doc_id
                      AND x.term = '{_EXCLUDE_TERM}')
  GROUP BY q.qid, tf.doc_id, s.n_docs, s.avgdl
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank,
         round(s_raw, 4) AS score
  FROM scored
)
SELECT qid, doc_id, rank, score FROM ranked WHERE rank <= {TOPK}
"""


_FACETS_SQL = f"""
WITH run AS ({{bm25}}),
f AS (SELECT r.qid, d.source AS facet FROM run r
      JOIN documents d ON d.doc_id = r.doc_id)
SELECT qid, facet, count(*)::BIGINT AS n_docs FROM f GROUP BY 1, 2
"""

# drill_sideways gate: drill-down source=src1 AND lang=en; each dim's
# sideways counts drop ITS OWN filter and keep the other's
_DRILL = [("source", "src1"), ("lang", "en")]

_DRILL_SIDEWAYS_SQL = """
WITH run AS ({bm25}),
j AS (SELECT r.qid, d.source, d.lang FROM run r
      JOIN documents d ON d.doc_id = r.doc_id),
s_side AS (SELECT qid, 'source' AS dim, source AS value,
                  count(*)::BIGINT AS n_docs
           FROM j WHERE lang = 'en' GROUP BY 1, 3),
l_side AS (SELECT qid, 'lang' AS dim, lang AS value,
                  count(*)::BIGINT AS n_docs
           FROM j WHERE source = 'src1' GROUP BY 1, 3)
SELECT * FROM s_side UNION ALL SELECT * FROM l_side
"""


def _phrase_query_sql() -> str:
    """Replays indexer.build_positional_postings + retrieval.
    phrase_query: 0-based token offsets via a lateral range unnest (no
    WITH ORDINALITY in DuckDB), consecutive-position joins, count of
    start offsets per doc."""
    w = " AND ".join(
        f"p{i+1}.term = '{t}'" for i, t in enumerate(_PHRASE)
    )
    joins = " ".join(
        f"JOIN pos p{i+1} ON p1.doc_id = p{i+1}.doc_id"
        f" AND p{i+1}.p = p1.p + {i}"
        for i in range(1, len(_PHRASE))
    )
    return rf"""
WITH t AS (SELECT doc_id, list_filter(
        regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')
        AS toks FROM documents),
e AS (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM t),
pos AS (SELECT doc_id, i AS p, toks[(i+1)::INT] AS term FROM e)
SELECT p1.doc_id, count(*)::BIGINT AS phrase_freq
FROM pos p1 {joins}
WHERE {w}
GROUP BY 1
"""


# ordered-proximity gate: same terms as the phrase gate but with slack
_PROX_WINDOW = 6

_SDM_UW = 8  # SDM unordered-window width (Metzler & Croft's uw8)


def _sdm_sql() -> str:
    """Replays retrieval.sdm_topk: the background decomposition
    f_X = S_X + B_X - n_X*ln(dl+mu) per feature, #od1 counts via the
    consecutive-position join, #uw8 via the anchor EXISTS, constants
    from the clause/cf joins. Weights/mu emitted via repr."""
    mu = repr(2000.0)
    wt, wo, wu = repr(0.85), repr(0.1), repr(0.05)
    pair_vals = ", ".join(
        f"('{qid}', '{a}', '{b}')"
        for qid, text in QUERY_SET
        for a, b in zip(text.lower().split(), text.lower().split()[1:])
    )
    return rf"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
qp(qid, w1, w2) AS (VALUES {pair_vals}),
tt AS (SELECT doc_id, list_filter(
        regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')
        AS tk FROM documents),
ee AS (SELECT doc_id, tk, unnest(range(len(tk))) AS i FROM tt),
pos AS (SELECT doc_id, i AS p, tk[(i+1)::INT] AS term FROM ee),
odp AS (
  SELECT d.w1, d.w2, p1.doc_id, count(*)::BIGINT AS cnt
  FROM (SELECT DISTINCT w1, w2 FROM qp) d
  JOIN pos p1 ON p1.term = d.w1
  JOIN pos p2 ON p2.doc_id = p1.doc_id AND p2.term = d.w2
              AND p2.p = p1.p + 1
  GROUP BY 1, 2, 3
),
uwp AS (
  SELECT d.w1, d.w2, p1.doc_id, count(*)::BIGINT AS cnt
  FROM (SELECT DISTINCT w1, w2 FROM qp WHERE w1 <> w2) d
  JOIN pos p1 ON p1.term = d.w1
  WHERE EXISTS (SELECT 1 FROM pos x
                WHERE x.doc_id = p1.doc_id AND x.term = d.w2
                AND x.p BETWEEN p1.p - {_SDM_UW} AND p1.p + {_SDM_UW})
  GROUP BY 1, 2, 3
),
cfo AS (SELECT w1, w2, sum(cnt)::BIGINT AS pcf FROM odp GROUP BY 1, 2),
cfu AS (SELECT w1, w2, sum(cnt)::BIGINT AS pcf FROM uwp GROUP BY 1, 2),
st AS (
  SELECT q.qid, tf.doc_id,
         sum(ln(tf.tf + {mu} * dft.cf / s.total_tokens)
             - ln({mu} * dft.cf / s.total_tokens)) AS s_t
  FROM q JOIN dft USING (term) JOIN tf USING (term) CROSS JOIN stats s
  GROUP BY 1, 2
),
ct AS (
  SELECT q.qid, sum(ln({mu} * dft.cf / s.total_tokens)) AS b_t,
         count(*)::BIGINT AS n_t
  FROM q JOIN dft USING (term) CROSS JOIN stats s GROUP BY 1
),
so AS (
  SELECT qp.qid, odp.doc_id,
         sum(ln(odp.cnt + {mu} * cfo.pcf / s.total_tokens)
             - ln({mu} * cfo.pcf / s.total_tokens)) AS s_o
  FROM qp JOIN cfo USING (w1, w2) JOIN odp USING (w1, w2)
  CROSS JOIN stats s GROUP BY 1, 2
),
co AS (
  SELECT qp.qid, sum(ln({mu} * cfo.pcf / s.total_tokens)) AS b_o,
         count(*)::BIGINT AS n_o
  FROM qp JOIN cfo USING (w1, w2) CROSS JOIN stats s GROUP BY 1
),
su AS (
  SELECT qp.qid, uwp.doc_id,
         sum(ln(uwp.cnt + {mu} * cfu.pcf / s.total_tokens)
             - ln({mu} * cfu.pcf / s.total_tokens)) AS s_u
  FROM qp JOIN cfu USING (w1, w2) JOIN uwp USING (w1, w2)
  CROSS JOIN stats s GROUP BY 1, 2
),
cu AS (
  SELECT qp.qid, sum(ln({mu} * cfu.pcf / s.total_tokens)) AS b_u,
         count(*)::BIGINT AS n_u
  FROM qp JOIN cfu USING (w1, w2) CROSS JOIN stats s GROUP BY 1
),
f AS (
  SELECT st.qid, st.doc_id, st.s_t, dl.doc_len, ct.b_t, ct.n_t,
         coalesce(so.s_o, 0.0) AS s_o, coalesce(co.b_o, 0.0) AS b_o,
         coalesce(co.n_o, 0)::BIGINT AS n_o,
         coalesce(su.s_u, 0.0) AS s_u, coalesce(cu.b_u, 0.0) AS b_u,
         coalesce(cu.n_u, 0)::BIGINT AS n_u
  FROM st
  JOIN dl ON st.doc_id = dl.doc_id
  JOIN ct ON st.qid = ct.qid
  LEFT JOIN so ON st.qid = so.qid AND st.doc_id = so.doc_id
  LEFT JOIN co ON st.qid = co.qid
  LEFT JOIN su ON st.qid = su.qid AND st.doc_id = su.doc_id
  LEFT JOIN cu ON st.qid = cu.qid
),
scored AS (
  SELECT qid, doc_id,
         {wt} * (s_t + b_t - n_t * ln(doc_len + {mu}))
         + {wo} * (s_o + b_o - n_o * ln(doc_len + {mu}))
         + {wu} * (s_u + b_u - n_u * ln(doc_len + {mu})) AS s
  FROM f
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY s DESC, doc_id ASC)::BIGINT AS rank,
         round(s, 4) AS score
  FROM scored
)
SELECT qid, doc_id, rank, score FROM ranked WHERE rank <= {TOPK}
"""


def _hygiene_streamed_sql() -> str:
    """Batch replay of the streamed ingest-hygiene pipeline over the
    PII-augmented corpus: a CTE SHADOWS `documents` with the augmented
    text (referencing main.documents — DuckDB's documented way to
    rebind the name), so the composed quality-filter SQL runs over the
    same content the stream saw; the scrub chain applies PII_PATTERNS
    in order; kept = quality keepers (the wave-2 duplicates are
    state-dropped by the stream and simply absent here)."""
    aug = (
        "text || ' user' || doc_id::VARCHAR || '@example.com'"
        " || ' 10.0.' || (doc_id % 256)::VARCHAR || '.7'"
        " || ' call 555-01' || lpad((doc_id % 100)::VARCHAR, 2, '0')"
        " || '-2345'"
    )
    ctes = ["s0 AS (SELECT doc_id, text AS t0 FROM documents)"]
    for i, (_, pat) in enumerate(ts.PII_PATTERNS):
        ctes.append(
            f"s{i + 1} AS (SELECT doc_id,"
            f" regexp_replace(t{i}, '{pat}', '[PII]', 'g') AS t{i + 1}"
            f" FROM s{i})"
        )
    last = len(ts.PII_PATTERNS)
    return f"""
WITH documents AS (SELECT doc_id, {aug} AS text, lang, source, n_chars
                   FROM main.documents),
qf AS (SELECT doc_id, keep FROM ({_quality_filter_sql()})),
{", ".join(ctes)}
SELECT d.doc_id, md5(d.text) AS digest, s.t{last} AS clean
FROM documents d
JOIN qf USING (doc_id)
JOIN s{last} s USING (doc_id)
WHERE qf.keep
"""


def _proximity_sql() -> str:
    """Replays retrieval.proximity_query: greedy-earliest in-order
    chains (existence of any in-order chain within the window is
    equivalent to the greedy chain existing) via correlated min
    subqueries, one per chained term."""
    ctes, prev = [], None
    for i, t in enumerate(_PHRASE[1:], start=1):
        lower = "p1.p" if i == 1 else f"m{i-1}.c{i-1}"
        src = "pos p1" if i == 1 else f"m{i-1}"
        start = "p1.p" if i == 1 else f"m{i-1}.start"
        doc = "p1.doc_id" if i == 1 else f"m{i-1}.doc_id"
        where = (
            f"WHERE p1.term = '{_PHRASE[0]}'"
            if i == 1
            else f"WHERE m{i-1}.c{i-1} IS NOT NULL"
        )
        ctes.append(
            f"m{i} AS (SELECT {doc} AS doc_id, {start} AS start, "
            f"(SELECT min(x.p) FROM pos x WHERE x.doc_id = {doc} "
            f"AND x.term = '{t}' AND x.p > {lower} "
            f"AND x.p <= {start} + {_PROX_WINDOW}) AS c{i} "
            f"FROM {src} {where})"
        )
        prev = i
    return rf"""
WITH t AS (SELECT doc_id, list_filter(
        regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')
        AS toks FROM documents),
e AS (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM t),
pos AS (SELECT doc_id, i AS p, toks[(i+1)::INT] AS term FROM e),
{", ".join(ctes)}
SELECT doc_id, count(*)::BIGINT AS prox_freq
FROM m{prev} WHERE c{prev} IS NOT NULL GROUP BY 1
"""


_CLASSIC_SQL = f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
scored AS (
  SELECT q.qid, tf.doc_id,
         -- idf is SQUARED by repeated multiplication in the SAME
         -- association as the engine ((sqrt(tf)*idf)*idf)/sqrt(dl):
         -- pow(idf, 2) differs by an ulp and flips raw-score order
         -- among near-ties (observed at sf0.1, q4 ranks 6-9)
         sum( sqrt(tf.tf)
              * (1.0 + ln((s.n_docs + 1.0) / (dft.df + 1.0)))
              * (1.0 + ln((s.n_docs + 1.0) / (dft.df + 1.0)))
              / sqrt(dl.doc_len) ) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank,
         round(s_raw, 4) AS score
  FROM scored
)
SELECT qid, doc_id, rank, score FROM ranked WHERE rank <= {TOPK}
"""

# spell gate: two misspellings plus one in-vocab term (must yield
# no suggestion row)
_SPELL_QUERIES: list[tuple[str, str]] = [
    ("s1", "sparkk"),
    ("s1", "tabel"),
    ("s2", "windoww"),
    ("s2", "spark"),
]


def _spell_suggest_sql() -> str:
    rows = ", ".join(f"('{q}', '{t}')" for q, t in _SPELL_QUERIES)
    return f"""
WITH {_TOKS}, {_TF}, {_DFT},
sq(qid, term) AS (VALUES {rows}),
oov AS (SELECT qid, term FROM sq
        WHERE term NOT IN (SELECT term FROM dft)),
cand AS (
  SELECT o.qid, o.term, d.term AS suggestion,
         levenshtein(d.term, o.term)::BIGINT AS distance, d.df
  FROM dft d JOIN oov o ON levenshtein(d.term, o.term) <= 2
),
r AS (SELECT *, row_number() OVER (PARTITION BY qid, term
        ORDER BY distance ASC, df DESC, suggestion ASC)::BIGINT AS rank
      FROM cand)
SELECT qid, term, suggestion, distance, df, rank FROM r WHERE rank <= 1
"""


# fuzzy gate: misspelled queries that only reach postings via edit-
# distance expansion over the vocabulary
_FUZZY_QUERIES: list[tuple[str, str]] = [
    ("f1", "sparkk joinz"),
    ("f2", "tabel"),
]
_FUZZY_MAX_EDITS = 2


def _fuzzy_query_sql() -> str:
    """Replays retrieval.fuzzy_expand_terms + score_queries: vocab
    join on levenshtein (integer — identical in both engines), weight
    1/(1+dist) summed per expanded term, then the weighted BM25 body."""
    rows = ", ".join(
        f"('{qid}', '{t}')"
        for qid, text in _FUZZY_QUERIES
        for t in text.lower().split()
    )
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS},
fq(qid, qterm) AS (VALUES {rows}),
q AS (SELECT fq.qid, dft.term,
             sum(1.0 / (1.0 + levenshtein(dft.term, fq.qterm))) AS weight
      FROM dft JOIN fq ON levenshtein(dft.term, fq.qterm) <= {_FUZZY_MAX_EDITS}
      GROUP BY 1, 2),
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( q.weight * ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q
  JOIN dft USING (term)
  JOIN tf  USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id, s.n_docs, s.avgdl
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank,
         round(s_raw, 4) AS score
  FROM scored
)
SELECT qid, doc_id, rank, score FROM ranked WHERE rank <= {TOPK}
"""


_GROUPED_SQL = """
WITH run AS ({bm25}),
j AS (SELECT r.qid, r.doc_id, r.rank, d.source AS "group"
      FROM run r JOIN documents d USING (doc_id)),
g AS (SELECT *, row_number() OVER (PARTITION BY qid, "group"
                                   ORDER BY rank ASC)::BIGINT AS group_rank
      FROM j)
SELECT qid, "group", doc_id, rank, group_rank
FROM g WHERE group_rank <= 2
"""


def _ap_block(p: str, not_exists: str) -> str:
    """Shared per-query-AP CTE chain (BM25 run body + qrels join +
    cumulative-precision AP) used by the ttest AND wilcoxon oracles."""
    return f"""
scored_{p} AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  {not_exists}
  GROUP BY q.qid, tf.doc_id, s.n_docs, s.avgdl
),
run_{p} AS (
  SELECT qid, doc_id, rank FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank
    FROM scored_{p}) WHERE rank <= {TOPK}
),
w_{p} AS (
  SELECT r.qid, r.rank,
         CASE WHEN coalesce(qr.rel, 0.0) >= 1.0 THEN 1.0 ELSE 0.0 END AS is_rel,
         sum(CASE WHEN coalesce(qr.rel, 0.0) >= 1.0 THEN 1.0 ELSE 0.0 END)
           OVER (PARTITION BY r.qid ORDER BY r.rank) AS cum_rel
  FROM run_{p} r LEFT JOIN qrels qr
    ON r.qid = qr.qid AND r.doc_id = qr.docid
),
ap_{p} AS (
  SELECT w.qid,
         CASE WHEN coalesce(t.num_rel, 0) > 0
              THEN coalesce(sum(CASE WHEN is_rel > 0 THEN cum_rel / rank END), 0.0) / t.num_rel
              ELSE 0.0 END AS ap
  FROM w_{p} w LEFT JOIN totals t USING (qid)
  GROUP BY w.qid, t.num_rel
)"""


def _ap_pair_prefix() -> str:
    """WITH-body prefix producing ap_a (plain BM25 run) and ap_b
    (MUST_NOT run) per-query AP tables."""
    excl = (
        "WHERE NOT EXISTS (SELECT 1 FROM tf x WHERE x.doc_id = tf.doc_id"
        f" AND x.term = '{_EXCLUDE_TERM}')"
    )
    return f"""{_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
{_QRELS_SQL},
totals AS (SELECT qid, count(*)::BIGINT AS num_rel FROM qrels
           WHERE rel >= 1.0 GROUP BY qid),
{_ap_block('a', '')},
{_ap_block('b', excl)}"""


def _query_difficulty_sql() -> str:
    """Replays the difficulty report: the shared ap_a chain + the
    qpp_pre features, ntile(3) over (round(ap,4), qid)."""
    return f"""
WITH {_ap_pair_prefix()},
feat AS (
  SELECT q2.qid, count(*)::BIGINT AS n_terms,
         avg(ln(1.0 + (s.n_docs - q2.df + 0.5) / (q2.df + 0.5)))
           AS avg_idf
  FROM (SELECT DISTINCT q.qid, q.term, dft.df
        FROM q JOIN dft USING (term)) q2
  CROSS JOIN stats s
  GROUP BY 1
)
SELECT a.qid, f.n_terms, round(f.avg_idf, 4) AS avg_idf,
       round(a.ap, 4) AS ap,
       ntile(3) OVER (ORDER BY round(a.ap, 4) ASC, a.qid ASC)::BIGINT
         AS difficulty_bucket
FROM ap_a a JOIN feat f USING (qid)
"""


def _run_ttest_sql() -> str:
    """Replays evaluation.paired_ttest over the per-query AP of the
    plain BM25 run vs the MUST_NOT run: both run bodies + the qrels
    replay + the _EVAL_SQL AP construction, then one paired-t scalar."""
    return f"""
WITH {_ap_pair_prefix()},
d AS (SELECT a.qid, a.ap - b.ap AS d FROM ap_a a JOIN ap_b b USING (qid))
SELECT count(*)::BIGINT AS n, round(avg(d), 4) AS mean_diff,
       round(stddev_samp(d), 4) AS sd_diff,
       round(CASE WHEN count(*) >= 2 AND stddev_samp(d) > 0
             THEN avg(d) / (stddev_samp(d) / sqrt(count(*))) END, 4) AS t_stat
FROM d
"""


def _run_wilcoxon_sql() -> str:
    """Replays evaluation.wilcoxon_signed_rank over the same AP pair
    as the ttest gate: deltas rounded to 4dp, zeros discarded, |d|
    ranked ascending with average ranks for ties, W+/W- rank sums."""
    return f"""
WITH {_ap_pair_prefix()},
d AS (SELECT round(a.ap - b.ap, 4) AS d
      FROM ap_a a JOIN ap_b b USING (qid)
      WHERE round(a.ap - b.ap, 4) <> 0),
rk AS (
  SELECT d,
         rank() OVER (ORDER BY abs(d))
           + (count(*) OVER (PARTITION BY abs(d)) - 1) / 2.0 AS avg_rank
  FROM d
)
SELECT count(*)::BIGINT AS n,
       round(sum(CASE WHEN d > 0 THEN avg_rank ELSE 0.0 END), 4) AS w_plus,
       round(sum(CASE WHEN d < 0 THEN avg_rank ELSE 0.0 END), 4) AS w_minus
FROM rk
"""


_HLL_M, _HLL_W = 64, 48


def _hll_distinct_sql() -> str:
    """Replays sketches.hll_distinct (m=_HLL_M registers, LSB-first
    rho over _HLL_W bits as a literal CASE chain, alpha/linear-counting
    constants emitted via repr so both engines share the doubles)."""
    from luc4ir_spark.operators.sketches import hll_alpha

    m, w = _HLL_M, _HLL_W
    mf = float(m)
    rho_case = (
        "CASE "
        + " ".join(
            f"WHEN h2 % {1 << i} = {1 << (i - 1)} THEN {i}"
            for i in range(1, w + 1)
        )
        + f" ELSE {w + 1} END"
    )
    num = repr(float(hll_alpha(m)) * mf * mf)
    return f"""
WITH k AS (
  SELECT event_type AS g,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
           AS tid
  FROM events
),
kj AS (SELECT g, tid % {m} AS j, tid // {m} AS h2 FROM k),
r AS (SELECT g, j, max({rho_case})::BIGINT AS mj FROM kj GROUP BY 1, 2),
p AS (SELECT g, count(*)::BIGINT AS n_registers,
             sum(power(2.0, -mj)) AS rsum FROM r GROUP BY 1),
p2 AS (SELECT g, n_registers, ({m} - n_registers)::BIGINT AS vz, rsum
       FROM p),
e AS (SELECT g, n_registers, vz,
             {num} / (rsum + vz::DOUBLE) AS e_raw FROM p2),
x AS (SELECT event_type AS g, count(DISTINCT user_id)::BIGINT AS n_exact
      FROM events GROUP BY 1)
SELECT e.g AS event_type, e.n_registers, e.vz AS v_zero,
       round(CASE WHEN e_raw <= {repr(2.5 * mf)} AND vz > 0
                  THEN {repr(mf)} * ln({repr(mf)} / vz::DOUBLE)
                  ELSE e_raw END, 4) AS est_distinct,
       x.n_exact
FROM e JOIN x USING (g)
"""


_LB_MAX = 1024


_DOCVALUES_SQL = """
WITH cols AS (
  SELECT 'lang' AS col_name, a.n_docs, a.n_distinct, a.raw_bytes, d.db
  FROM (SELECT count(*)::BIGINT AS n_docs,
               count(DISTINCT lang)::BIGINT AS n_distinct,
               coalesce(sum(strlen(lang)), 0)::BIGINT AS raw_bytes
        FROM documents) a
  CROSS JOIN (SELECT coalesce(sum(strlen(v)), 0)::BIGINT AS db
              FROM (SELECT DISTINCT lang AS v FROM documents
                    WHERE lang IS NOT NULL)) d
  UNION ALL
  SELECT 'source' AS col_name, a.n_docs, a.n_distinct, a.raw_bytes, d.db
  FROM (SELECT count(*)::BIGINT AS n_docs,
               count(DISTINCT source)::BIGINT AS n_distinct,
               coalesce(sum(strlen(source)), 0)::BIGINT AS raw_bytes
        FROM documents) a
  CROSS JOIN (SELECT coalesce(sum(strlen(v)), 0)::BIGINT AS db
              FROM (SELECT DISTINCT source AS v FROM documents
                    WHERE source IS NOT NULL)) d
),
b AS (
  SELECT col_name, n_docs, n_distinct,
         (CASE WHEN n_distinct <= 1 THEN 0 WHEN n_distinct <= 2 THEN 1 WHEN n_distinct <= 4 THEN 2 WHEN n_distinct <= 8 THEN 3 WHEN n_distinct <= 16 THEN 4 WHEN n_distinct <= 32 THEN 5 WHEN n_distinct <= 64 THEN 6 WHEN n_distinct <= 128 THEN 7 WHEN n_distinct <= 256 THEN 8 WHEN n_distinct <= 512 THEN 9 WHEN n_distinct <= 1024 THEN 10 WHEN n_distinct <= 2048 THEN 11 WHEN n_distinct <= 4096 THEN 12 WHEN n_distinct <= 8192 THEN 13 WHEN n_distinct <= 16384 THEN 14 WHEN n_distinct <= 32768 THEN 15 WHEN n_distinct <= 65536 THEN 16 WHEN n_distinct <= 131072 THEN 17 WHEN n_distinct <= 262144 THEN 18 WHEN n_distinct <= 524288 THEN 19 ELSE 20 END)::BIGINT AS bits_per_value, raw_bytes, db
  FROM cols
)
SELECT col_name, n_docs, n_distinct, bits_per_value, raw_bytes,
       (db + (n_docs * bits_per_value + 7) // 8)::BIGINT AS dict_bytes,
       CASE WHEN db + (n_docs * bits_per_value + 7) // 8 < raw_bytes
            THEN 'dict' ELSE 'raw' END AS encoding
FROM b
"""


def _length_buckets_sql() -> str:
    """Replays textstats.length_buckets: the same literal power-of-two
    CASE chain (generated from _LB_MAX on both engines), integer
    padding arithmetic, one 4dp division."""
    bounds, b = [], 1
    while b < _LB_MAX:
        bounds.append(b)
        b *= 2
    case = (
        "CASE "
        + " ".join(f"WHEN doc_len <= {bd} THEN {bd}" for bd in bounds)
        + f" ELSE {b} END"
    )
    return f"""
WITH {_TOKS}, {_DL},
pd AS (SELECT doc_id, least(doc_len, {b})::BIGINT AS doc_len,
              ({case})::BIGINT AS bucket_len FROM dl
       WHERE doc_len > 0),
g AS (SELECT bucket_len, count(*)::BIGINT AS n_docs,
             sum(doc_len)::BIGINT AS total_tokens
      FROM pd GROUP BY 1)
SELECT bucket_len, n_docs, total_tokens,
       (n_docs * bucket_len - total_tokens)::BIGINT AS total_padding,
       round(total_tokens::DOUBLE / (n_docs * bucket_len)::DOUBLE, 4)
         AS efficiency
FROM g
"""


_LBATCH_SIZE, _LBATCH_SHARDS = 4, 4


def _length_batches_sql() -> str:
    """Replays textstats.length_batches: the _LB_MAX bucket CASE, the
    mix shard, per-(bucket, shard) row_number ordered (n DESC, doc_id),
    integer batch_idx, per-batch pad-to-max stats."""
    from luc4ir_spark.functions import hashing as hx

    bounds, b = [], 1
    while b < _LB_MAX:
        bounds.append(b)
        b *= 2
    case = (
        "CASE "
        + " ".join(f"WHEN doc_len <= {bd} THEN {bd}" for bd in bounds)
        + f" ELSE {b} END"
    )
    shard = (
        f"((({hx.MIX_A} * (doc_id % {hx.MIX_P}) + {hx.MIX_B})"
        f" % {hx.MIX_P}) % {_LBATCH_SHARDS})"
    )
    return f"""
WITH {_TOKS}, {_DL},
pd AS (SELECT doc_id, least(doc_len, {b})::BIGINT AS n,
              ({case})::BIGINT AS bucket_len,
              {shard}::BIGINT AS shard
       FROM dl WHERE doc_len > 0),
rn AS (SELECT *, row_number() OVER (PARTITION BY bucket_len, shard
                                    ORDER BY n DESC, doc_id) AS r
       FROM pd),
g AS (SELECT bucket_len, shard, ((r - 1) // {_LBATCH_SIZE})::BIGINT
             AS batch_idx,
             count(*)::BIGINT AS n_seqs, max(n)::BIGINT AS max_tokens,
             sum(n)::BIGINT AS sum_tokens
      FROM rn GROUP BY 1, 2, 3)
SELECT bucket_len, shard, batch_idx, n_seqs, max_tokens, sum_tokens,
       round((n_seqs * max_tokens - sum_tokens) * 1.0
             / (n_seqs * max_tokens), 4) AS pad_frac
FROM g
"""


_DSIR_B, _DSIR_ALPHA, _DSIR_TOPN = 16, 0.5, 20
_DSIR_TARGET = "src1"  # the in-domain subset the DSIR gate targets


def _dsir_select_sql() -> str:
    """Replays textstats.dsir_select: md5-60bit unigram buckets,
    add-alpha smoothed target/raw bucket LMs, per-doc tf-weighted
    log-ratio, top-n by the 4dp-rounded weight (doc_id tie-break)."""
    a = repr(float(_DSIR_ALPHA))
    ab = repr(float(_DSIR_ALPHA * _DSIR_B))
    return f"""
WITH {_TOKS}, {_TF},
tgt AS (SELECT doc_id, source = '{_DSIR_TARGET}' AS is_tgt
        FROM documents),
fb AS (SELECT tf.doc_id, tf.tf, g.is_tgt,
              ('0x' || substr(md5(tf.term), 1, 15))::BIGINT
                % {_DSIR_B} AS bucket
       FROM tf JOIN tgt g USING (doc_id)),
bc AS (SELECT bucket, sum(tf)::BIGINT AS raw_cnt,
              sum(CASE WHEN is_tgt THEN tf ELSE 0 END)::BIGINT AS tgt_cnt
       FROM fb GROUP BY 1),
tot AS (SELECT sum(raw_cnt)::BIGINT AS raw_total,
               sum(tgt_cnt)::BIGINT AS tgt_total FROM bc),
lr AS (SELECT bucket,
              ln((tgt_cnt + {a}) / (tgt_total + {ab}))
              - ln((raw_cnt + {a}) / (raw_total + {ab})) AS lr
       FROM bc CROSS JOIN tot),
w AS (SELECT fb.doc_id, sum(fb.tf)::BIGINT AS n_tokens,
             round(sum(fb.tf * lr.lr), 4) AS log_weight
      FROM fb JOIN lr USING (bucket) GROUP BY 1),
r AS (SELECT doc_id, n_tokens, log_weight,
             row_number() OVER (ORDER BY log_weight DESC,
                                doc_id ASC)::BIGINT AS rank
      FROM w)
SELECT doc_id, n_tokens, rank, log_weight
FROM r WHERE rank <= {_DSIR_TOPN}
"""


_PBM_Q, _PBM_D, _PBM_POS, _PBM_ITERS = 8, 25, 5, 2


_CASCADE_SQL = f"""
WITH imp AS (
  SELECT event_id // 8 AS serp_id,
         (event_id % 8) + 1 AS pos,
         (event_id % {_PBM_D})::BIGINT AS doc_id,
         event_type = 'click' AS clicked
  FROM events
),
fc AS (SELECT serp_id, min(pos) AS fc FROM imp WHERE clicked GROUP BY 1),
ex AS (
  SELECT i.doc_id, i.pos, i.clicked, f.fc
  FROM imp i LEFT JOIN fc f USING (serp_id)
  WHERE f.fc IS NULL OR i.pos <= f.fc
)
SELECT doc_id, count(*)::BIGINT AS n_exam,
       sum(CASE WHEN clicked AND pos = fc THEN 1 ELSE 0 END)::BIGINT
         AS n_clicks,
       round(sum(CASE WHEN clicked AND pos = fc THEN 1 ELSE 0 END)
             * 1.0 / count(*), 4) AS attractiveness
FROM ex GROUP BY 1
"""

def _click_model_sql() -> str:
    """Replays evaluation.pbm_click_model over the deterministic
    impression log derived from events (qid = user_id%Q, doc =
    event_id%D, pos = pmod(mix(event_id),P)+1, clicked = event_type =
    'click'): the combo collapse, then _PBM_ITERS EM rounds generated
    from the same constant so both engines run the identical chain.
    Posterior expressions are spelled g*(1-r)/(1-g*r) with the same
    association as the engine."""
    mix = (
        "((2654435761 * (event_id % 2147483647) + 2246822519)"
        " % 2147483647)"
    )
    prev_g, prev_r = "g0", "r0"
    iters = []
    for i in range(1, _PBM_ITERS + 1):
        iters.append(f"""
j{i} AS (
  SELECT c.pos, c.qid, c.doc, c.clicked, c.n,
         CASE WHEN c.clicked THEN 1.0
              ELSE gg.g * (1.0 - rr.r) / (1.0 - gg.g * rr.r) END AS pe,
         CASE WHEN c.clicked THEN 1.0
              ELSE rr.r * (1.0 - gg.g) / (1.0 - gg.g * rr.r) END AS pr
  FROM combos c JOIN {prev_g} gg USING (pos)
  JOIN {prev_r} rr USING (qid, doc)
),
g{i} AS (SELECT pos, sum(n * pe) / sum(n) AS g FROM j{i} GROUP BY 1),
r{i} AS (SELECT qid, doc, sum(n * pr) / sum(n) AS r
         FROM j{i} GROUP BY 1, 2)""")
        prev_g, prev_r = f"g{i}", f"r{i}"
    return f"""
WITH imp AS (
  SELECT 'q' || (user_id % {_PBM_Q}) AS qid,
         event_id % {_PBM_D} AS doc,
         ({mix} % {_PBM_POS}) + 1 AS pos,
         event_type = 'click' AS clicked
  FROM events
),
combos AS (SELECT pos, qid, doc, clicked, count(*)::BIGINT AS n
           FROM imp GROUP BY 1, 2, 3, 4),
g0 AS (SELECT DISTINCT pos, 0.5 AS g FROM combos),
r0 AS (SELECT DISTINCT qid, doc, 0.5 AS r FROM combos),
{','.join(iters)}
SELECT c.pos, c.n_impressions, c.n_clicks,
       round(gg.g, 4) AS gamma
FROM (SELECT pos, sum(n)::BIGINT AS n_impressions,
             sum(CASE WHEN clicked THEN n ELSE 0 END)::BIGINT AS n_clicks
      FROM combos GROUP BY 1) c
JOIN {prev_g} gg USING (pos)
"""


_FRIEDMAN_K = 3  # systems compared by the Friedman gate


def _friedman_ap_block(p: str, score: str) -> str:
    """Per-query-AP CTE chain for ONE system's run — the `_ap_block`
    shape with a pluggable per-term scoring expression so the Friedman
    gate can replay three different similarities over the same scan."""
    return f"""
scored_{p} AS (
  SELECT q.qid, tf.doc_id, sum({score}) AS s_raw
  FROM q JOIN dft USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id
),
run_{p} AS (
  SELECT qid, doc_id, rank FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank
    FROM scored_{p}) WHERE rank <= {TOPK}
),
w_{p} AS (
  SELECT r.qid, r.rank,
         CASE WHEN coalesce(qr.rel, 0.0) >= 1.0 THEN 1.0 ELSE 0.0 END AS is_rel,
         sum(CASE WHEN coalesce(qr.rel, 0.0) >= 1.0 THEN 1.0 ELSE 0.0 END)
           OVER (PARTITION BY r.qid ORDER BY r.rank) AS cum_rel
  FROM run_{p} r LEFT JOIN qrels qr
    ON r.qid = qr.qid AND r.doc_id = qr.docid
),
ap_{p} AS (
  SELECT w.qid,
         CASE WHEN coalesce(t.num_rel, 0) > 0
              THEN coalesce(sum(CASE WHEN is_rel > 0 THEN cum_rel / rank END), 0.0) / t.num_rel
              ELSE 0.0 END AS ap
  FROM w_{p} w LEFT JOIN totals t USING (qid)
  GROUP BY w.qid, t.num_rel
)"""


def _swap_propensity_sql() -> str:
    """Replays evaluation.randomization_propensity over the PBM
    gate's mix-hash position-random impression log: per-position CTR
    and integer-cross-product gamma ratios anchored at position 1."""
    from luc4ir_spark.functions import hashing as hx

    mix = (
        f"(({hx.MIX_A} * (event_id % {hx.MIX_P}) + {hx.MIX_B})"
        f" % {hx.MIX_P})"
    )
    return f"""
WITH imp AS (
  SELECT ({mix} % {_PBM_POS}) + 1 AS pos,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS c
  FROM events
),
per AS (SELECT pos::BIGINT AS pos, count(*)::BIGINT AS n_impressions,
               sum(c)::BIGINT AS n_clicks
        FROM imp GROUP BY 1),
a AS (SELECT n_impressions AS i1, n_clicks AS c1 FROM per WHERE pos = 1)
SELECT per.pos, per.n_impressions, per.n_clicks,
       round(per.n_clicks / per.n_impressions, 4) AS ctr,
       CASE WHEN a.c1 > 0 THEN
         round((per.n_clicks * a.i1) / (per.n_impressions * a.c1), 4)
       END AS gamma_ratio
FROM per CROSS JOIN a
"""


def _run_friedman_sql() -> str:
    """Replays evaluation.friedman_test over per-query AP of THREE
    systems (bm25 / classic / lmdir, the exact scoring expressions of
    their green gates): APs rounded 4dp BEFORE ranking, ascending
    average ranks within each qid block, tie-uncorrected chi^2_F.
    Ranks are multiples of 0.5, so every sum is exact in float64."""
    bm25 = (
        "ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))"
        f" * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl))"
    )
    classic = (
        "sqrt(tf.tf) * (1.0 + ln((s.n_docs + 1.0) / (dft.df + 1.0)))"
        " * (1.0 + ln((s.n_docs + 1.0) / (dft.df + 1.0)))"
        " / sqrt(dl.doc_len)"
    )
    lmdir = (
        f"greatest(ln(1.0 + tf.tf / ({MU} * dft.cf / s.total_tokens))"
        f" + ln({MU} / (dl.doc_len + {MU})), 0.0)"
    )
    k = _FRIEDMAN_K
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS}, {_values_queries()},
{_QRELS_SQL},
totals AS (SELECT qid, count(*)::BIGINT AS num_rel FROM qrels
           WHERE rel >= 1.0 GROUP BY qid),
{_friedman_ap_block('fb', bm25)},
{_friedman_ap_block('fc', classic)},
{_friedman_ap_block('fl', lmdir)},
u AS (
  SELECT 'bm25' AS system, qid, round(ap, 4) AS m FROM ap_fb
  UNION ALL SELECT 'classic', qid, round(ap, 4) FROM ap_fc
  UNION ALL SELECT 'lmdir', qid, round(ap, 4) FROM ap_fl
),
com AS (SELECT qid FROM u GROUP BY qid HAVING count(*) = {k}),
rk AS (
  SELECT u.system, u.qid,
         rank() OVER (PARTITION BY u.qid ORDER BY u.m)
           + (count(*) OVER (PARTITION BY u.qid, u.m) - 1) / 2.0 AS avg_rank
  FROM u JOIN com USING (qid)
),
ps AS (SELECT system, count(*)::BIGINT AS n_queries,
              sum(avg_rank) AS rank_sum
       FROM rk GROUP BY 1),
tt AS (SELECT max(n_queries)::DOUBLE AS n,
              sum(rank_sum * rank_sum) AS ssum FROM ps)
SELECT ps.system, ps.n_queries, round(ps.rank_sum, 4) AS rank_sum,
       round(ps.rank_sum / ps.n_queries::DOUBLE, 4) AS mean_rank,
       round(12.0 * tt.ssum / (tt.n * {float(k * (k + 1))})
             - {float(3 * (k + 1))} * tt.n, 4) AS chi2_f
FROM ps CROSS JOIN tt
"""


def _snippets_sql() -> str:
    """Replays retrieval.make_snippets over the BM25 run: earliest
    query-term substring position (strpos == Spark instr: 1-based, 0
    when absent), fixed window, identical clamping."""
    return f"""
WITH {_BM25_RUN_CTES},
run AS (SELECT qid, doc_id FROM ranked WHERE rank <= {TOPK}),
h AS (SELECT r.qid, r.doc_id, d.text FROM run r
      JOIN documents d USING (doc_id)),
p AS (SELECT h.qid, h.doc_id, h.text,
             strpos(lower(h.text), q.term) AS pos
      FROM h JOIN q ON q.qid = h.qid
      WHERE strpos(lower(h.text), q.term) > 0),
b AS (SELECT qid, doc_id, min(pos) AS p, min(text) AS t
      FROM p GROUP BY 1, 2)
SELECT qid, doc_id, greatest(p - 30, 1)::BIGINT AS snip_start,
       substr(t, greatest(p - 30, 1)::INT, 60) AS snippet
FROM b
"""


def _similar_docs_sql() -> str:
    """Replays retrieval.similar_docs_topk for query docs 0-4, k=3,
    no df cap (31-term vocab — every term is high-df, so capping would
    empty the join at this scale; norms over all terms either way)."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS},
w AS (SELECT tf.term, tf.doc_id, tf.tf * ln(s.n_docs / dft.df) AS wt
      FROM tf JOIN dft USING (term) CROSS JOIN stats s),
nrm AS (SELECT doc_id, sqrt(sum(wt * wt)) AS n FROM w GROUP BY 1),
dots AS (SELECT l.doc_id AS a, r.doc_id AS b, sum(l.wt * r.wt) AS dot
         FROM w l JOIN w r USING (term)
         WHERE l.doc_id < 5 AND l.doc_id <> r.doc_id
         GROUP BY 1, 2),
c AS (SELECT a, b, dot / (na.n * nb.n) AS cos
      FROM dots JOIN nrm na ON na.doc_id = a JOIN nrm nb ON nb.doc_id = b),
r AS (SELECT a, b,
        row_number() OVER (PARTITION BY a
                           ORDER BY cos DESC, b ASC)::BIGINT AS rank,
        round(cos, 4) AS cosine
      FROM c)
SELECT a, b, rank, cosine FROM r WHERE rank <= 3
"""


def _classifier_score_sql() -> str:
    """Replays textstats.classifier_score with the md5-derived weight
    table: logit = sum(tf * w) / doc_len, score = sigmoid, keep decided
    in the logit domain (threshold 0.5 -> cut 0)."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL},
w AS (SELECT DISTINCT term, {_CLS_WEIGHT_SQL} AS weight FROM toks),
s AS (SELECT tf.doc_id, sum(tf.tf * w.weight) / dl.doc_len AS logit
      FROM tf JOIN w USING (term) JOIN dl ON tf.doc_id = dl.doc_id
      GROUP BY tf.doc_id, dl.doc_len)
SELECT doc_id, round(logit, 4) AS logit,
       round(1.0 / (1.0 + exp(-logit)), 4) AS score,
       logit >= 0.0 AS keep
FROM s
"""


def _classifier_eval_sql() -> str:
    """Replays textstats.classifier_eval over the classifier_score
    logits: labels = mix(doc_id) % 2 (the portable hash, so both
    engines derive the identical label column), confusion counts at
    the logit>=0 operating point, and the exact Mann-Whitney AUC with
    doubled integer mid-ranks (2*cum - c + 1) — one division at the
    end, identical arithmetic shape on both engines."""
    from luc4ir_spark.functions import hashing as hx

    y = f"(({hx.MIX_A} * (doc_id % {hx.MIX_P}) + {hx.MIX_B}) % {hx.MIX_P}) % 2"
    return f"""
WITH {_TOKS}, {_TF}, {_DL},
w AS (SELECT DISTINCT term, {_CLS_WEIGHT_SQL} AS weight FROM toks),
s AS (SELECT tf.doc_id, sum(tf.tf * w.weight) / dl.doc_len AS logit
      FROM tf JOIN w USING (term) JOIN dl ON tf.doc_id = dl.doc_id
      GROUP BY tf.doc_id, dl.doc_len),
j AS (SELECT logit AS sc,
             CASE WHEN logit >= 0.0 THEN 1 ELSE 0 END AS k,
             ({y})::INT AS y
      FROM s),
conf AS (SELECT count(*)::BIGINT AS n,
                sum(y)::BIGINT AS n_pos, sum(1 - y)::BIGINT AS n_neg,
                sum(k * y)::BIGINT AS tp, sum(k * (1 - y))::BIGINT AS fp,
                sum((1 - k) * y)::BIGINT AS fn,
                sum((1 - k) * (1 - y))::BIGINT AS tn
         FROM j),
g AS (SELECT sc, count(*)::BIGINT AS c, sum(y)::BIGINT AS p
      FROM j GROUP BY 1),
g2 AS (SELECT p, c,
              sum(c) OVER (ORDER BY sc
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum
       FROM g),
r AS (SELECT sum(p * (2 * cum - c + 1))::BIGINT AS r2 FROM g2),
m AS (SELECT n, n_pos, n_neg, tp, fp, fn, tn,
             CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE 0.0 END AS pr,
             CASE WHEN n_pos > 0 THEN tp / n_pos ELSE 0.0 END AS rc,
             CASE WHEN n_pos > 0 AND n_neg > 0
                  THEN (r2 - n_pos * (n_pos + 1))
                       / (2.0 * n_pos * n_neg)
                  ELSE 0.5 END AS auc
      FROM conf CROSS JOIN r)
SELECT n, n_pos, n_neg, tp, fp, fn, tn,
       round(pr, 4) AS precision, round(rc, 4) AS recall,
       round(CASE WHEN pr + rc > 0
                  THEN 2.0 * pr * rc / (pr + rc) ELSE 0.0 END, 4) AS f1,
       round(auc, 4) AS auc
FROM m
"""


def _mcnemar_sql() -> str:
    """Replays evaluation.mcnemar_test over the two md5-weight linear
    classifiers: per-doc logit signs vs the mix-parity label, integer
    2x2 cells, continuity-corrected chi2 (integer-squared numerator,
    ONE division), and the sign_test doubled-tail exact binomial over
    the discordant count (identical product/fold expression shape as
    _interleave_sign_sql, so the doubles agree)."""
    from luc4ir_spark.functions import hashing as hx

    y = f"(({hx.MIX_A} * (doc_id % {hx.MIX_P}) + {hx.MIX_B}) % {hx.MIX_P}) % 2"
    wb = (
        "((('0x' || substr(md5(term), 1, 15))::BIGINT % 1003) - 501)"
        "::DOUBLE"
    )
    comb = (
        "CASE WHEN jx = 0 THEN 1.0 ELSE "
        "list_product(list_transform(range(1, jx + 1),"
        " i -> 1.0 * (na + nb - jx + i))) / "
        "list_product(list_transform(range(1, jx + 1), i -> 1.0 * i)) END"
    )
    return f"""
WITH {_TOKS}, {_TF}, {_DL},
w AS (SELECT DISTINCT term, {_CLS_WEIGHT_SQL} AS wa, {wb} AS wb
      FROM toks),
s AS (SELECT tf.doc_id,
             sum(tf.tf * w.wa) / dl.doc_len AS la,
             sum(tf.tf * w.wb) / dl.doc_len AS lb
      FROM tf JOIN w USING (term) JOIN dl ON tf.doc_id = dl.doc_id
      GROUP BY tf.doc_id, dl.doc_len),
jj AS (SELECT (CASE WHEN la >= 0.0 THEN 1 ELSE 0 END) = ({y}) AS ca,
              (CASE WHEN lb >= 0.0 THEN 1 ELSE 0 END) = ({y}) AS cb
       FROM s),
tal AS (
  SELECT count(*)::BIGINT AS n,
         sum(CASE WHEN ca AND cb THEN 1 ELSE 0 END)::BIGINT AS n_both,
         sum(CASE WHEN NOT ca AND NOT cb THEN 1 ELSE 0 END)::BIGINT
           AS n_neither,
         sum(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END)::BIGINT AS na,
         sum(CASE WHEN cb AND NOT ca THEN 1 ELSE 0 END)::BIGINT AS nb
  FROM jj)
SELECT n, n_both, n_neither, na AS n_a_only, nb AS n_b_only,
       CASE WHEN na + nb = 0 THEN 0.0
            ELSE round(greatest(abs(na - nb) - 1, 0)
                       * greatest(abs(na - nb) - 1, 0)
                       / (na + nb), 4) END AS chi2_cc,
       CASE WHEN na + nb > 100 THEN NULL ELSE
       round(CASE WHEN na + nb = 0 THEN 1.0 ELSE least(1.0,
         2.0 * list_sum(list_transform(range(0, least(na, nb) + 1),
           jx -> ({comb}) / pow(2.0, na + nb)))) END, 4) END AS p_value
FROM tal
"""


def _duplicate_spans_sql() -> str:
    """Replays dedup.duplicate_spans: non-overlapping full 4-token
    windows, 60-bit md5 span ids, keeper = min(doc_id * 2^20 +
    chunk_idx) unpacked by exact integer div/mod."""
    st, shift = _SPAN_TOKENS, 1 << 20
    return rf"""
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
         x -> x <> '') AS toks
  FROM documents
),
n AS (
  SELECT doc_id, toks, (len(toks) // {st})::BIGINT AS ns
  FROM t WHERE len(toks) >= {st}
),
e AS (SELECT doc_id, toks, unnest(range(ns)) AS i FROM n),
h AS (
  SELECT doc_id, i AS chunk_idx,
         ('0x' || substr(md5(array_to_string(
             list_slice(toks, (i*{st}+1)::INT, (i*{st}+{st})::INT),
             ' ')), 1, 15))::BIGINT AS span_id
  FROM e
),
g AS (SELECT span_id, count(*)::BIGINT AS n_occ,
             min(doc_id * {shift} + chunk_idx) AS kk
      FROM h GROUP BY 1)
SELECT span_id, n_occ, (kk // {shift})::BIGINT AS keep_doc_id,
       (kk % {shift})::BIGINT AS keep_chunk_idx
FROM g WHERE n_occ > 1
"""


def _mlt_sql() -> str:
    """Replays retrieval.more_like_this: term selection by the INTEGER
    ordering (tf DESC, df ASC, term ASC — no float tf*idf tie-break),
    then the standard Lucene-8 BM25 body from _bm25_sql."""
    return f"""
WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS},
mlt AS (SELECT tf.term FROM tf JOIN dft USING (term)
        WHERE tf.doc_id = {_MLT_DOC}
        ORDER BY tf.tf DESC, dft.df ASC, tf.term ASC LIMIT {_MLT_TERMS}),
q AS (SELECT 'mlt:{_MLT_DOC}' AS qid, term FROM mlt),
scored AS (
  SELECT q.qid, tf.doc_id,
         sum( ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
              * tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doc_len / s.avgdl)) ) AS s_raw
  FROM q
  JOIN dft USING (term)
  JOIN tf  USING (term)
  JOIN dl  ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  GROUP BY q.qid, tf.doc_id, s.n_docs, s.avgdl
),
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY s_raw DESC, doc_id ASC)::BIGINT AS rank,
         round(s_raw, 4) AS score
  FROM scored
)
SELECT qid, doc_id, rank, score FROM ranked WHERE rank <= {TOPK}
"""


# merged(half A, half B) must equal the one-shot full build: term_stats
# re-aggregated across disjoint doc halves == full-corpus term stats,
# and the additive n_docs scalar rides along as a column
_INDEX_MERGE_SQL = (
    f"WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS} "
    "SELECT term, df, cf, (SELECT n_docs FROM stats) AS n_docs FROM dft"
)

# delete(index, ids) must equal a fresh build over the surviving docs:
# the same stats pipeline with the drop predicate pushed into the scan
_INDEX_DELETE_SQL = (
    "WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0), "
    "toks AS (SELECT doc_id, unnest(list_filter("
    "regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''))"
    " AS term FROM d), "
    f"{_TF}, {_DL}, {_DFT}, {_STATS} "
    "SELECT term, df, cf, (SELECT n_docs FROM stats) AS n_docs FROM dft"
)


# ---------------------------------------------------------------- contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-k batch retrieval on sf0.001."""
    return _bm25_run(spark, "/root/testdata/sf0.001", conjunctive=False)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def doc_stats(spark, sf):
        idx = _index(spark, sf)
        return idx.doc_stats.select("doc_id", "doc_len")

    def term_stats(spark, sf):
        return _index(spark, sf).term_stats.select("term", "df", "cf")

    def tf_postings(spark, sf):
        return _index(spark, sf).postings.select(
            "term", "doc_id", F.col("tf").cast("long").alias("tf")
        )

    def collection_stats(spark, sf):
        s = _index(spark, sf).stats
        return spark.createDataFrame(
            [(s.n_docs, round(s.avgdl, 4), s.vocab_size, s.total_tokens)],
            "n_docs long, avgdl double, vocab_size long, total_tokens long",
        )

    def idf_dump(spark, sf):
        idx = _index(spark, sf)
        return ix.idf_dump(idx).select("term", F.round("idf", 4).alias("idf"))

    def lm_cross_entropy(spark, sf):
        # CCNet-style quality signal: per-doc cross-entropy under the
        # corpus unigram LM, straight from the index's term stats
        idx = _index(spark, sf)
        return ix.lm_cross_entropy(idx).select(
            "doc_id", F.round("cross_entropy", 4).alias("cross_entropy")
        )

    def lm_quality_filter(spark, sf):
        # the CCNet fixed-threshold keep/drop over the LM signal (3.41
        # chosen boundary-safe for this corpus: no doc within 1e-5)
        idx = _index(spark, sf)
        return ix.lm_quality_filter(idx, max_xent=3.41).select(
            "doc_id", F.round("cross_entropy", 4).alias("cross_entropy")
        )

    def xent_buckets(spark, sf):
        # CCNet head/middle/tail: per-language rank tertiles over the
        # corpus-LM cross-entropy (ntile on the 4dp grid + doc_id)
        idx = _index(spark, sf)
        return ix.xent_buckets(idx, _docs(spark, sf), by="lang").select(
            "doc_id", "lang", "cross_entropy", "bucket"
        )

    def bm25_topk(spark, sf):
        return _bm25_run(spark, sf, conjunctive=False)

    def pruned_topk(spark, sf):
        # static index pruning (Carmel SIGIR'01 / champion lists):
        # top-_PRUNE_M postings per term by (tf DESC, doc_id), global
        # stats untouched so survivors score exactly as unpruned
        pruned = ix.prune_index_static(
            _index(spark, sf), max_per_term=_PRUNE_M
        )
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = rt.score_queries(pruned, qt, k=TOPK)
        return run.select(
            "qid",
            "doc_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("score", 4).alias("score"),
        )

    def bm25_conjunctive(spark, sf):
        return _bm25_run(spark, sf, conjunctive=True)

    def _round_run(run):
        return run.select(
            "qid",
            "doc_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("score", 4).alias("score"),
        )

    def bm25_msm(spark, sf):
        # BooleanQuery.setMinimumNumberShouldMatch parity: docs must
        # match >= _MSM distinct query terms before ranking
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        return _round_run(
            rt.score_queries(idx, qt, k=TOPK, min_should_match=_MSM)
        )

    def covering_query(spark, sf):
        # Lucene CoveringQuery / ES terms_set: the msm threshold is a
        # PER-DOC field — here the arithmetic doc_id % 3 + 1 — read
        # next to the same single-scan matched-term counter
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        mm = _docs(spark, sf).select(
            "doc_id",
            ((F.col("doc_id") % 3) + 1).cast("long").alias("min_match"),
        )
        return _round_run(
            rt.score_queries(idx, qt, k=TOPK, min_match_docs=mm)
        )

    def prefix_query(spark, sf):
        # PrefixQuery parity: trailing-wildcard expansion over the term
        # dictionary, uniform weights, then one BM25 pass
        idx = _index(spark, sf)
        p = spark.createDataFrame(_PREFIX_SET, "qid string, prefix string")
        expanded = rt.prefix_expand_terms(idx, p)
        return _round_run(rt.score_queries(idx, expanded, k=TOPK))

    def search_after(spark, sf):
        # IndexSearcher.searchAfter parity: page 2 via a keyset cursor
        # built from page 1's last hit — must equal the rank-offset page
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        page1 = _base_run(spark, sf)
        cursor = page1.filter(F.col("rank") == TOPK).select(
            "qid",
            F.col("score").alias("after_score"),
            F.col("doc_id").alias("after_doc_id"),
        )
        return _round_run(
            rt.score_queries(idx, qt, k=TOPK, after=cursor)
        )

    def boolean_query_parse(spark, sf):
        # QueryParser +/- grammar -> BooleanQuery MUST/SHOULD/MUST_NOT
        # execution in one postings scan
        idx = _index(spark, sf)
        rows = [
            r
            for qid, text in _BOOL_QUERIES
            for r in rt.parse_boolean_query(qid, text, SIMPLE)
        ]
        clauses = spark.createDataFrame(
            rows, "qid string, term string, clause string"
        )
        return _round_run(rt.boolean_query(idx, clauses, k=TOPK))

    def filtered_query(spark, sf):
        # BooleanQuery FILTER occur: metadata-restricted candidates,
        # scores untouched; the allowed set is a pushed-down source
        # predicate on the docs table feeding a semi-join
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        allowed = _docs(spark, sf).filter(
            F.col("source").isin(list(_FILTER_SOURCES))
        ).select("doc_id")
        return _round_run(
            rt.score_queries(idx, qt, k=TOPK, filter_docs=allowed)
        )

    def bm25f_topk(spark, sf):
        # BM25F: title = first _TITLE_LEN simple tokens, body = rest;
        # one index per field, combined pseudo-frequency saturates once
        tk = simple_tokens(F.col("text"))
        fields = _docs(spark, sf).select(
            "doc_id",
            F.array_join(F.slice(tk, 1, _TITLE_LEN), " ").alias("title"),
            F.array_join(
                F.slice(tk, _TITLE_LEN + 1, 1 << 30), " "
            ).alias("body"),
        )
        cfg = ix.IndexConfig(analyzer=SIMPLE)
        t_idx = ix.build_index(
            fields, cfg, content_col="title", cache=False
        )
        b_idx = ix.build_index(fields, cfg, content_col="body", cache=False)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        return _round_run(
            rt.bm25f_score(
                {"title": t_idx, "body": b_idx},
                qt,
                k=TOPK,
                k1=K1,
                field_weights=_BM25F_W,
                field_b=_BM25F_B,
            )
        )

    def complete_prefix(spark, sf):
        # autocomplete: popularity-ranked prefix completions, integer
        # ordering — never touches postings
        idx = _index(spark, sf)
        p = spark.createDataFrame(
            _COMPLETE_PREFIXES, "qid string, prefix string"
        )
        return rt.complete_prefix(idx, p, k=_COMPLETE_K)

    def fuzzy_complete(spark, sf):
        # FuzzySuggester parity: typo-tolerant completions, distance
        # then popularity, all-integer ordering
        idx = _index(spark, sf)
        p = spark.createDataFrame(
            _FUZZY_TYPED, "qid string, prefix string"
        )
        return rt.fuzzy_complete(
            idx, p, max_edits=_FUZZY_EDITS, k=_FUZZY_K
        )

    def infix_suggest(spark, sf):
        # AnalyzingInfixSuggester parity: contains-anywhere vocab
        # completions, popularity-ranked, match offset for highlight
        idx = _index(spark, sf)
        p = spark.createDataFrame(
            _INFIX_NEEDLES, "qid string, needle string"
        )
        return rt.infix_suggest(idx, p, k=_INFIX_K)

    def explain_score(spark, sf):
        # IndexSearcher.explain() parity: per-term breakdown whose sum
        # is the run score
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        ex = rt.explain_scores(idx, qt, doc_ids=list(_EXPLAIN_DOCS))
        return ex.select(
            "qid",
            "doc_id",
            "term",
            "tf",
            "doc_len",
            "df",
            F.round("idf", 4).alias("idf"),
            F.round("contribution", 4).alias("contribution"),
        )

    def sp_candidates(spark, sf):
        # unigram-LM (SentencePiece-style) tokenizer trainer's
        # candidate-inventory core: substring grid x word counts with
        # the deterministic (cnt DESC, piece ASC) top-K cut; the EM
        # trainer itself (sp_train) is pytest-proven vs a pure-Python
        # replay, like bpe_train before its unroll
        return sp.sp_candidates(
            _docs(spark, sf), content_col="text",
            max_piece_len=4, max_pieces=300,
        )

    def wordpiece_encode(spark, sf):
        # WordPiece (BERT tokenizer) greedy longest-match encoding of
        # every dictionary word under the role-aware derived vocab;
        # max_word_chars=6 so the 8-char words exercise [UNK]; the
        # walk runs by pointer doubling over the jump table
        wc = bp.word_counts(_docs(spark, sf), content_col="text")
        out = sp.wordpiece_encode(
            wc, max_piece_len=_WP_MAXL, min_count=_WP_MINC,
            max_word_chars=_WP_MAXCHARS,
        )
        return out.select("word", "n_pieces", "encoded")

    def sp_encode_viterbi(spark, sf):
        # the unigram-LM ENCODER itself, oracled: Viterbi-segment every
        # distinct corpus word under the fixed _SP_INVENTORY model; the
        # oracle unrolls the DP position-by-position with list state
        wc = bp.word_counts(_docs(spark, sf), content_col="text")
        w = wc.filter(F.length("word") <= _SP_JMAX).select("word", "cnt")
        out = sp.sp_encode(
            w, list(_SP_INVENTORY.items()), max_piece_len=_SP_MAXLEN
        )
        # pieces joined to ONE string: array-valued gate outputs are
        # untested territory for the driver's value hash — keep the
        # contract scalar-typed like every other gate
        return out.select(
            "word",
            F.array_join("sp_tokens", "|").alias("sp_tokens"),
            "n_sp_tokens",
        )

    def bpe_pair_counts(spark, sf):
        # BPE trainer first-iteration statistics (the SQL-replayable
        # core; bpe_merges iterates it)
        return bp.bpe_pair_counts(_docs(spark, sf), content_col="text")

    def bpe_merges(spark, sf):
        # full iterative trainer — deterministic merge list, oracled by
        # the CTE-unrolled merge loop (_bpe_merges_sql, one iteration
        # block per merge); pytest additionally proves it equals a
        # pure-Python BPE replay
        wc = bp.word_counts(_docs(spark, sf), content_col="text")
        merges = bp.bpe_train(wc, num_merges=_BPE_MERGES, min_count=2)
        return spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(merges)],
            "merge_idx long, a string, b string",
        )

    def index_upsert(spark, sf):
        # IndexWriter.updateDocument parity: delete-by-id + delta build
        # + shuffle-free merge must equal a fresh build of the modified
        # corpus (term-stats spine compared)
        idx = _index(spark, sf)
        mod = _docs(spark, sf).filter(
            F.col("doc_id").isin(list(_UPSERT_DOCS))
        ).select(
            "doc_id",
            F.concat(F.col("text"), F.lit(_UPSERT_SUFFIX)).alias("text"),
        )
        up = ix.update_docs(idx, mod, content_col="text")
        return up.term_stats.select(
            "term",
            F.col("df").cast("long").alias("df"),
            F.col("cf").cast("long").alias("cf"),
        )

    # ~60 gates consume the standard BM25 run over QUERY_SET (the
    # eval/fusion/feedback families all start from it) and ~15 the
    # bm25/lmdir pair; memoize the CHECKPOINTED runs per (session, sf)
    # like _index so the drive scores each run once instead of once per
    # consumer — run-sized (queries x k rows), never corpus-sized
    _base_run_cache: dict = {}

    def _base_run(spark, sf):
        key = (id(spark), sf)
        r = _base_run_cache.get(key)
        if r is None:
            idx = _index(spark, sf)
            qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
            r = rt.score_queries(idx, qt, k=TOPK).localCheckpoint(
                eager=False
            )
            _base_run_cache[key] = r
        return r

    _two_runs_cache: dict = {}

    def _two_runs(spark, sf):
        key = (id(spark), sf)
        rr = _two_runs_cache.get(key)
        if rr is None:
            idx = _index(spark, sf)
            qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
            r1 = _base_run(spark, sf)
            r2 = rt.score_queries(
                idx, qt, k=TOPK, sim=rt.Similarity(kind="lmdir")
            ).localCheckpoint(eager=False)
            rr = (r1, r2)
            _two_runs_cache[key] = rr
        return rr

    def run_diff(spark, sf):
        # engine-regression diff between the bm25 and lmdir top-10s:
        # common/only counts + mean |rank shift|, one division
        r1, r2 = _two_runs(spark, sf)
        return ev.run_diff(r1, r2, k=TOPK)

    def search_length(spark, sf):
        # Cooper's ESL over the BM25 run: non-relevant docs seen
        # before the 1st and 2nd relevant — all-integer
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf).withColumn(
            "docid", F.col("doc_id").cast("string")
        )
        return ev.expected_search_length(
            run, _pseudo_qrels(spark, sf), n_rel_target=2
        )

    def pool_depth_curve(spark, sf):
        # judged coverage vs pool depth over the bm25+lmdir union
        # pool and the pseudo qrels (Zobel-style adequacy curve)
        r1, r2 = _two_runs(spark, sf)
        qrels = _pseudo_qrels(spark, sf)
        runs = [
            r.withColumn("docid", F.col("doc_id").cast("string"))
            for r in (r1, r2)
        ]
        return ev.pool_depth_curve(runs, qrels, max_depth=TOPK)

    def trec_pooling(spark, sf):
        # TREC judging-pool construction over two systems at _POOL_DEPTH
        r1, r2 = _two_runs(spark, sf)
        runs = (
            r1.withColumn("run_id", F.lit("bm25"))
            .unionByName(r2.withColumn("run_id", F.lit("lmdir")))
            .select("run_id", "qid", "doc_id", "rank")
        )
        return ev.pool_runs(runs, depth=_POOL_DEPTH)

    def rank_correlation(spark, sf):
        # per-query Kendall tau between the bm25 and lmdir runs
        r1, r2 = _two_runs(spark, sf)
        return ev.rank_correlation(r1, r2)

    def tau_ap(spark, sf):
        # top-weighted AP rank correlation (Yilmaz et al. SIGIR'08) of
        # the lmdir run against the bm25 run as reference; exact
        # scaled-BIGINT inner sum, one double division
        r1, r2 = _two_runs(spark, sf)
        return ev.tau_ap(r1, r2)

    def rank_spearman(spark, sf):
        # per-query Spearman rho between the bm25 and lmdir runs —
        # exact-BIGINT Σd², one division (no ties by construction)
        r1, r2 = _two_runs(spark, sf)
        return ev.spearman_rho(r1, r2)

    def good_turing(spark, sf):
        # Good-Turing count-of-counts + adjusted counts + unseen mass
        return ts.good_turing_counts(_docs(spark, sf), content_col="text")

    def kneser_ney_xent(spark, sf):
        # interpolated Kneser-Ney bigram xent (continuation counts)
        return ts.kneser_ney_xent(
            _docs(spark, sf), discount=_KN_D, content_col="text"
        )

    def witten_bell(spark, sf):
        # Witten-Bell interpolated bigram xent (novel-continuation
        # escape mass; SRILM -wbdiscount parity)
        return ts.witten_bell_xent(_docs(spark, sf), content_col="text")

    def stupid_backoff(spark, sf):
        # Stupid Backoff bigram xent vs the src1 in-domain LM (the
        # cross-domain setup where the backoff branches actually fire)
        d = _docs(spark, sf)
        return ts.stupid_backoff_xent(
            d, d.filter(F.col("source") == _DSIR_TARGET),
            alpha=_SB_ALPHA, content_col="text",
        )

    def bigram_lm_xent(spark, sf):
        # interpolated bigram corpus-LM quality signal
        return ts.bigram_cross_entropy(
            _docs(spark, sf), content_col="text", lam=_BIGRAM_LAM
        )

    def corpus_token_stats(spark, sf):
        # per-language token/byte budget stats for mix planning
        return ts.corpus_token_stats(
            _docs(spark, sf), by="lang", content_col="text"
        )

    def normalize_text(spark, sf):
        # CCNet dedup-hash normalization over deterministically
        # augmented text (case + accent + digits + punctuation)
        docs = _docs(spark, sf).select(
            "doc_id",
            F.concat(
                F.col("text"), F.lit(" Café No. "),
                F.col("doc_id").cast("string"), F.lit("!!"),
            ).alias("content"),
        )
        return ts.normalize_for_dedup(docs)

    def suggest_next(spark, sf):
        # FreeTextSuggester at the bigram order: top-3 corpus
        # continuations per context word, all-integer ordering
        return ts.suggest_next_words(
            _docs(spark, sf), _SUGGEST_CTX, k=3, content_col="text"
        )

    def token_budget_sample(spark, sf):
        # training-mix cut: per-source mix-ordered prefix within a
        # TOKEN budget
        return ut.sample_token_budget(
            _docs(spark, sf),
            _TOKEN_BUDGET,
            stratum_col="source",
            content_col="text",
        )

    def dismax_topk(spark, sf):
        # DisjunctionMaxQuery: max clause + tie * sum(others), same
        # single postings scan as the OR run
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        return _round_run(
            rt.dismax_topk(idx, qt, k=TOPK, tie_breaker=_DISMAX_TIE)
        )

    def wildcard_query(spark, sf):
        # WildcardQuery: anchored-regex dictionary expansion feeding the
        # plain BM25 OR scorer
        idx = _index(spark, sf)
        pats = spark.createDataFrame(
            [(qid, rt.wildcard_to_regex(p)) for qid, p in _WILDCARD_SET],
            "qid string, rx string",
        )
        qt = rt.wildcard_expand_terms(idx, pats)
        return _round_run(rt.score_queries(idx, qt, k=TOPK))

    def term_range_query(spark, sf):
        # TermRangeQuery under CONSTANT_SCORE rewrite: matching docs at
        # score 1.0 + the distinct matched-term count
        idx = _index(spark, sf)
        return rt.term_range_query(idx, _RANGE_LO, _RANGE_HI)

    def qpp_pre(spark, sf):
        # pre-retrieval QPP: avg/max idf + SCQ over in-vocab query terms
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        pre = qp.qpp_pre_retrieval(idx, qt)
        return pre.select(
            "qid",
            "n_terms",
            F.round("avg_idf", 4).alias("avg_idf"),
            F.round("max_idf", 4).alias("max_idf"),
            F.round("scq", 4).alias("scq"),
        )

    def qpp_post(spark, sf):
        # post-retrieval QPP: WIG + NQC from the full candidate list
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = rt.score_queries(idx, qt, k=10**6)
        post = qp.qpp_post_retrieval(run, qt, idx, k=TOPK)
        return post.select(
            "qid",
            "n_candidates",
            F.round("wig", 4).alias("wig"),
            F.round("nqc", 4).alias("nqc"),
        )

    def synonym_query(spark, sf):
        # SynonymQuery: blended tf (sum) + group idf (max df)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        syn = spark.createDataFrame(_SYN_TABLE, "term string, syn string")
        return _round_run(rt.synonym_topk(idx, qt, syn, k=TOPK))

    def collapse_results(spark, sf):
        # field collapse: best hit per (qid, source), re-ranked top-k
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = rt.score_queries(idx, qt, k=_COLLAPSE_DEPTH)
        out = rt.collapse_results(
            run, _docs(spark, sf), collapse_col="source", k=TOPK
        )
        return out.select(
            "qid",
            "doc_id",
            "rank",
            F.round("score", 4).alias("score"),
            "source",
        )

    def count_hits(spark, sf):
        # IndexSearcher.count: distinct matching docs, no scoring
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        return rt.count_hits(idx, qt)

    def sort_by_field(spark, sf):
        # TopFieldCollector: matching docs ordered by n_chars desc
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        return rt.sort_by_field(
            idx, qt, _docs(spark, sf), sort_col="n_chars", k=TOPK
        )

    def function_score(spark, sf):
        # FunctionScoreQuery: BM25 x ln(1 + n_chars/100) re-rank
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = rt.score_queries(idx, qt, k=_COLLAPSE_DEPTH)
        boost = F.log(F.lit(1.0) + F.col("n_chars") / F.lit(100.0))
        out = rt.function_score(run, _docs(spark, sf), boost, k=TOPK)
        return _round_run(out)

    def mask_spans(spark, sf):
        # T5 span-corruption layout: deterministic masked spans
        return ts.mask_spans(
            _docs(spark, sf),
            content_col="text",
            span_len=_MASK_SPAN_LEN,
            stride=_MASK_STRIDE,
            mask_denom=_MASK_DENOM,
        )

    def mlm_mask(spark, sf):
        # BERT MLM 80/10/10 corruption layout: mix-hash position
        # selection + branch draw + random-vocab replacement
        idx = _index(spark, sf)
        return ts.mlm_mask_plan(
            _docs(spark, sf),
            idx.term_stats.select("term"),
            mask_per_10000=1500,
            content_col="text",
        )

    def comb_fuse(spark, sf):
        # CombMNZ fusion of the bm25 + lmdir runs (min-max per run/qid)
        r1, r2 = _two_runs(spark, sf)
        runs = (
            r1.withColumn("run_id", F.lit("bm25"))
            .unionByName(r2.withColumn("run_id", F.lit("lmdir")))
            .select("run_id", "qid", "doc_id", "score")
        )
        out = rt.comb_fuse(runs, method="mnz", topk=TOPK)
        return out.select(
            "qid", "doc_id", "rank", F.round("fused", 4).alias("fused")
        )

    def zscore_fuse(spark, sf):
        # z-score-normalized CombSUM of the bm25 + lmdir runs
        r1, r2 = _two_runs(spark, sf)
        runs = (
            r1.withColumn("run_id", F.lit("bm25"))
            .unionByName(r2.withColumn("run_id", F.lit("lmdir")))
            .select("run_id", "qid", "doc_id", "score")
        )
        out = rt.comb_fuse(runs, method="zsum", topk=TOPK)
        return out.select(
            "qid", "doc_id", "rank", F.round("fused", 4).alias("fused")
        )

    def borda_fuse(spark, sf):
        # Borda-count fusion of the bm25 + lmdir runs (all-integer)
        r1, r2 = _two_runs(spark, sf)
        runs = (
            r1.withColumn("run_id", F.lit("bm25"))
            .unionByName(r2.withColumn("run_id", F.lit("lmdir")))
            .select("run_id", "qid", "doc_id", "rank")
        )
        return rt.borda_fuse(runs, pool_k=TOPK, topk=TOPK).select(
            "qid", "doc_id", "rank", "borda"
        )

    def ltr_train(spark, sf):
        # closed-form 2-feature ridge over the LTR feature log labeled
        # by the pseudo qrels: sufficient-statistics aggregate + 2x2
        # solve, statistics-only MSE
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        feats = rt.ltr_features(idx, qt, k=TOPK)
        qrels = _pseudo_qrels(spark, sf)
        labeled = (
            feats.withColumn("docid", F.col("doc_id").cast("string"))
            .join(qrels, ["qid", "docid"], "left")
            .withColumn(
                "label",
                F.when(
                    F.coalesce(F.col("rel"), F.lit(0.0)) >= 1.0,
                    F.lit(1.0),
                ).otherwise(F.lit(0.0)),
            )
        )
        out = rt.ltr_train_ridge(
            labeled, feature_cols=("bm25", "lmdir"),
            label_col="label", l2=_LTR_L2,
        )
        return out.select(
            "n",
            F.round("w1", 4).alias("w1"),
            F.round("w2", 4).alias("w2"),
            F.round("mse", 4).alias("mse"),
        )

    def ltr_apply(spark, sf):
        # train->serve: apply the ridge model to the feature log and
        # re-rank (no driver-side weight collection)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        feats = rt.ltr_features(idx, qt, k=TOPK)
        qrels = _pseudo_qrels(spark, sf)
        labeled = (
            feats.withColumn("docid", F.col("doc_id").cast("string"))
            .join(qrels, ["qid", "docid"], "left")
            .withColumn(
                "label",
                F.when(
                    F.coalesce(F.col("rel"), F.lit(0.0)) >= 1.0,
                    F.lit(1.0),
                ).otherwise(F.lit(0.0)),
            )
        )
        model = rt.ltr_train_ridge(
            labeled, feature_cols=("bm25", "lmdir"),
            label_col="label", l2=_LTR_L2,
        )
        out = rt.ltr_apply_linear(
            feats, model, feature_cols=("bm25", "lmdir"), k=TOPK
        )
        return out.select(
            "qid", "doc_id", "rank",
            F.round("score", 4).alias("score"),
        )

    def condorcet_fuse(spark, sf):
        # Copeland/Condorcet fusion of the bm25 + lmdir + classic
        # runs: strict duel-win majority, wins − losses, all-integer
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        r1 = _base_run(spark, sf)
        r2 = rt.score_queries(
            idx, qt, k=TOPK,
            sim=rt.Similarity(kind="lmdir", mu=MU, lam=LAM),
        )
        r3 = rt.score_queries(
            idx, qt, k=TOPK,
            sim=rt.Similarity(kind="classic", mu=MU, lam=LAM),
        )
        runs = (
            r1.withColumn("run_id", F.lit("bm25"))
            .unionByName(r2.withColumn("run_id", F.lit("lmdir")))
            .unionByName(r3.withColumn("run_id", F.lit("classic")))
            .select("run_id", "qid", "doc_id", "rank")
        )
        return rt.condorcet_fuse(runs, pool_k=TOPK, topk=TOPK).select(
            "qid", "doc_id", "rank", "copeland"
        )

    def ltr_features(spark, sf):
        # LTR feature logging: six query-doc features in one scan over
        # the BM25 top-k candidates
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        out = rt.ltr_features(idx, qt, k=TOPK)
        return out.select(
            "qid", "doc_id", "rank",
            F.round("bm25", 4).alias("bm25"),
            F.round("lmdir", 4).alias("lmdir"),
            "n_matched", "sum_tf",
            F.round("idf_sum", 4).alias("idf_sum"),
            "doc_len",
        )

    def eval_macro(spark, sf):
        # trec_eval-style macro row: MRR/MAP/GMAP/Success@5
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf).withColumn(
            "docid", F.col("doc_id").cast("string")
        )
        pq = ev.per_query_metrics(run, _pseudo_qrels(spark, sf))
        m = ev.macro_metrics_extended(pq, success_at=5)
        return m.select(
            "num_queries",
            F.round("mrr", 4).alias("mrr"),
            F.round("map", 4).alias("map"),
            F.round("gmap", 4).alias("gmap"),
            F.round("success_at_5", 4).alias("success_at_5"),
        )

    def bm25_plus(spark, sf):
        # BM25+ (delta=1): length lower-bounding variant
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        return _round_run(
            rt.score_queries(
                idx, qt, k=TOPK, sim=rt.Similarity(kind="bm25plus")
            )
        )

    def rank_rbo(spark, sf):
        # RBO@k between the bm25 and lmdir runs
        r1, r2 = _two_runs(spark, sf)
        out = ev.rank_rbo(r1, r2, k=TOPK, p=_RBO_P)
        return out.select("qid", F.round("rbo", 4).alias("rbo"))

    def interleave_runs(spark, sf):
        # team-draft interleaving of the bm25/lmdir runs, oracled by
        # the CTE-unrolled draft (_interleave_sql: per-qid doc lists +
        # 2k pick steps folding DuckDB list state)
        r1, r2 = _two_runs(spark, sf)
        return ev.interleave_team_draft(r1, r2, k=TOPK).select(
            "qid", "pos", "doc_id", "team"
        )

    def interleave_credit(spark, sf):
        # team-draft credit assignment over a deterministic click log
        # (click iff mix(doc_id*2^20 + pos) % 3 == 0 — the portable
        # mix hash, replayed literally in the oracle)
        from luc4ir_spark.functions.hashing import mix_id_expr

        r1, r2 = _two_runs(spark, sf)
        # the interleaved list feeds the click filter AND both branches
        # of the credit operator — one applyInPandas draft, three
        # consumers: materialize once (run-sized)
        inter = ev.interleave_team_draft(r1, r2, k=TOPK).localCheckpoint(
            eager=False
        )
        clicks = inter.filter(
            F.pmod(
                mix_id_expr(
                    F.col("doc_id") * F.lit(1 << 20) + F.col("pos")
                ),
                F.lit(3),
            )
            == 0
        ).select("qid", "doc_id")
        return ev.interleave_credit(inter, clicks)

    def ips_eval(spark, sf):
        # counterfactual offline evaluation: clicks logged on the bm25
        # run (pos = its rank, click iff mix(doc_id*2^20 + pos) % 3 ==
        # 0), examination propensities gamma = 1/pos, new ranking =
        # the lmdir run — the IPS estimator up-weights deep clicks
        from luc4ir_spark.functions.hashing import mix_id_expr

        r1, r2 = _two_runs(spark, sf)
        clicks = r1.select(
            "qid", "doc_id", F.col("rank").alias("pos")
        ).filter(
            F.pmod(
                mix_id_expr(
                    F.col("doc_id") * F.lit(1 << 20) + F.col("pos")
                ),
                F.lit(3),
            )
            == 0
        )
        gamma = r1.select(F.col("rank").alias("pos")).distinct().select(
            "pos", (F.lit(1.0) / F.col("pos")).alias("gamma")
        )
        out = ev.ips_utility(r2, clicks, gamma, weight="dcg")
        return out.select(
            "qid",
            "n_clicks",
            F.round("ips_utility", 4).alias("ips_utility"),
            F.round("snips_utility", 4).alias("snips_utility"),
        )

    def interleave_sign(spark, sf):
        # exact binomial sign test over the interleaving winners —
        # the significance call that closes the interleave → credit →
        # decision pipeline; dyadic-exact p rounded at 4dp
        credit = interleave_credit(spark, sf)
        return ev.sign_test(credit).select(
            "n_queries",
            "n_a",
            "n_b",
            "n_tie",
            F.round("p_value", 4).alias("p_value"),
        )

    def extended_metrics(spark, sf):
        # bpref / ERR@k / RBP / judged-fraction over the BM25 run and
        # the deterministic pseudo qrels
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf).withColumn(
            "docid", F.col("doc_id").cast("string")
        )
        pq = ev.extended_metrics(
            run, _pseudo_qrels(spark, sf), err_at=TOPK, rbp_p=_RBP_P
        )
        return pq.select(
            "qid",
            F.round("bpref", 4).alias("bpref"),
            F.round("err", 4).alias("err"),
            F.round("rbp", 4).alias("rbp"),
            F.round("judged_frac", 4).alias("judged_frac"),
        )

    def err_ia(spark, sf):
        # ERR-IA + subtopic recall@10 over the BM25 run and the
        # arithmetic aspect qrels (no ideal ranking needed)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf).withColumn(
            "docid", F.col("doc_id").cast("string")
        )
        out = ev.intent_aware_metrics(
            run, _aspect_qrels(spark, sf), k=TOPK, gmax=1.0
        )
        return out.select(
            "qid",
            "n_aspects",
            F.round("err_ia", 4).alias("err_ia"),
            F.round("s_recall", 4).alias("s_recall"),
        )

    def alpha_ndcg(spark, sf):
        # α-nDCG@5 (Clarke SIGIR'08) over the BM25 run and the
        # arithmetic aspect qrels; greedy ideal unrolled 5 steps
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf).withColumn(
            "docid", F.col("doc_id").cast("string")
        )
        out = ev.alpha_ndcg(
            run, _aspect_qrels(spark, sf),
            k=_ANDCG_K, alpha=_ANDCG_ALPHA,
        )
        return out.select(
            "qid",
            F.round("dcg", 4).alias("dcg"),
            F.round("idcg", 4).alias("idcg"),
            F.round("alpha_ndcg", 4).alias("alpha_ndcg"),
        )

    def eval_qmeasure(spark, sf):
        # Sakai's Q-measure (beta=1) over the BM25 run + pseudo qrels
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf).withColumn(
            "docid", F.col("doc_id").cast("string")
        )
        out = ev.q_measure(run, _pseudo_qrels(spark, sf))
        return out.select(
            "qid", "num_rel", F.round("q_measure", 4).alias("q_measure")
        )

    def iprec_at_recall(spark, sf):
        # trec_eval 11-point interpolated precision over the BM25 run
        # and the deterministic pseudo qrels; level threshold compared
        # in pure integer arithmetic on both engines
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf).withColumn(
            "docid", F.col("doc_id").cast("string")
        )
        out = ev.iprec_at_recall(run, _pseudo_qrels(spark, sf))
        return out.select(
            "qid",
            "level",
            F.round("recall_level", 4).alias("recall_level"),
            F.round("iprec", 4).alias("iprec"),
        )

    def r_precision(spark, sf):
        # trec_eval Rprec: precision at rank R (total relevant count)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf).withColumn(
            "docid", F.col("doc_id").cast("string")
        )
        out = ev.r_precision(run, _pseudo_qrels(spark, sf))
        return out.select(
            "qid", "n_rel", F.round("rprec", 4).alias("rprec")
        )

    def link_triangles(spark, sf):
        # triangle count on the undirected simplification of the
        # synthetic link graph (ordered-edge join, all-integer)
        docs = _docs(spark, sf).select("doc_id")
        n = docs.count()
        edges = gr.synthetic_link_graph(docs, n)
        return gr.triangle_count(edges).select(
            "n_nodes", "n_edges", "n_triangles"
        )

    def link_pagerank(spark, sf):
        # 3-iteration PageRank over the deterministic 3-out-regular
        # synthetic link graph (doc ids are contiguous 0..n-1 in the
        # testdata). Integer-exact scaled numerators (graph.py module
        # docstring) make the per-node sums fold-order-exact, so
        # pr_num is bit-identical cross-engine and pr is one division
        # of identical integers.
        docs = _docs(spark, sf).select("doc_id")
        n = docs.count()
        edges = gr.synthetic_link_graph(docs, n)
        out = gr.pagerank_regular_exact(
            docs, edges, n, n_iter=3, id_col="doc_id"
        )
        return out.select(
            F.col("id").alias("doc_id"),
            "pr_num",
            F.round("pr", 4).alias("pr"),
        )

    def link_cocitation(spark, sf):
        # co-citation (Small'73) + bibliographic coupling (Kessler'63)
        # over the synthetic graph, both at min_count=2, tagged rows
        docs = _docs(spark, sf).select("doc_id")
        n = docs.count()
        edges = gr.synthetic_link_graph(docs, n)
        cc = gr.cocitation_pairs(edges, min_count=2).select(
            F.lit("cocite").alias("measure"), "a", "b", "n"
        )
        bc = gr.coupling_pairs(edges, min_count=2).select(
            F.lit("couple").alias("measure"), "a", "b", "n"
        )
        return cc.unionByName(bc)

    def link_prediction(spark, sf):
        # neighborhood link-prediction scores (Liben-Nowell &
        # Kleinberg'03): common neighbors + Jaccard + fixed-point
        # resource allocation (integer floor(1e6/deg) weights — exact
        # sums, one division, no cross-engine ln hazard)
        docs = _docs(spark, sf).select("doc_id")
        n = docs.count()
        edges = gr.synthetic_link_graph(docs, n)
        return gr.link_prediction_pairs(
            edges, min_common=2, max_degree=None
        )

    def link_modularity(spark, sf):
        # modularity Q of the SOURCE partition on the link graph —
        # integer numerator, one division; per-community rows
        d = _docs(spark, sf)
        n = d.count()
        edges = gr.synthetic_link_graph(d.select("doc_id"), n)
        mem = d.select(
            F.col("doc_id").alias("id"),
            F.col("source").alias("community"),
        )
        return gr.partition_modularity(edges, mem)

    def link_assortativity(spark, sf):
        # Newman degree assortativity over the undirected simplified
        # graph — integer sums, ONE division (symmetric convention)
        docs = _docs(spark, sf).select("doc_id")
        n = docs.count()
        edges = gr.synthetic_link_graph(docs, n)
        return gr.assortativity(edges)

    def link_degree_stats(spark, sf):
        # one-row graph health summary: degrees, hub maxima,
        # reciprocity (distinct directed edges; one division)
        docs = _docs(spark, sf).select("doc_id")
        n = docs.count()
        edges = gr.synthetic_link_graph(docs, n)
        return gr.degree_stats(edges)

    def kcore_peel(spark, sf):
        # 3-round k-core peeling at k=4 over the synthetic graph:
        # peel_round per node, 0 = survives all rounds
        docs = _docs(spark, sf).select("doc_id")
        n = docs.count()
        edges = gr.synthetic_link_graph(docs, n)
        return gr.kcore_peel(edges, k=4, rounds=3)

    def link_bfs(spark, sf):
        # bounded-depth BFS seed distance (crawl depth / TrustRank
        # proximity): seeds = doc_id % 97 == 0, 3 unrolled hops
        docs = _docs(spark, sf).select("doc_id")
        n = docs.count()
        edges = gr.synthetic_link_graph(docs, n)
        seeds = docs.filter(F.col("doc_id") % 97 == 0)
        return gr.bfs_depth(
            docs, edges, seeds, max_depth=3, id_col="doc_id"
        )

    def anchor_field(spark, sf):
        # Nutch-style anchor-text pseudo-field: per-target postings of
        # inlink anchor tokens over the synthetic link graph
        from luc4ir_spark.functions import hashing as hx

        docs = _docs(spark, sf).select("doc_id")
        n = docs.count()
        edges = gr.synthetic_link_graph(docs, n)
        anchor = F.concat(
            F.lit("Visit page-"),
            F.col("dst").cast("string"),
            F.lit(" now tag"),
            F.pmod(
                hx.mix_id_expr(
                    F.col("src") * F.lit(1048576) + F.col("dst")
                ),
                F.lit(5),
            ).cast("string"),
        )
        return gr.anchor_text_field(
            edges.select("src", "dst", anchor.alias("anchor"))
        )

    def pagerank_boost(spark, sf):
        # link-prior × relevance: function_score with boost =
        # 1 + ln(1 + PageRank) over the synthetic graph
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf)
        docs = _docs(spark, sf).select("doc_id")
        n = docs.count()
        edges = gr.synthetic_link_graph(docs, n)
        pr = gr.pagerank_regular_exact(
            docs, edges, n, n_iter=3, id_col="doc_id"
        ).select(F.col("id").alias("doc_id"), "pr")
        out = rt.function_score(
            run, pr,
            F.lit(1.0) + F.log(F.lit(1.0) + F.col("pr")),
            k=TOPK,
        )
        return out.select(
            "qid", "doc_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("score", 4).alias("score"),
        )

    def link_hits(spark, sf):
        # 2-iteration unnormalized HITS over the same synthetic link
        # graph as link_pagerank; all scores are integers so the gate
        # is fold-order-exact on both engines
        docs = _docs(spark, sf).select("doc_id")
        n = docs.count()
        edges = gr.synthetic_link_graph(docs, n)
        out = gr.hits_unnormalized(docs, edges, n_iter=2, id_col="doc_id")
        return out.select(
            F.col("id").alias("doc_id"), "hub_num", "auth_num"
        )

    def term_pmi(spark, sf):
        # document-level PMI collocations from the index postings;
        # df band [2, 400] + min co_df 2, both modeled in the oracle
        idx = _index(spark, sf)
        out = ix.term_cooccurrence_pmi(
            idx,
            min_df=_PMI_MIN_DF,
            max_df=_PMI_MAX_DF,
            min_co_df=_PMI_MIN_CO,
        )
        return out.select(
            "term_l", "term_r", "co_df", "df_l", "df_r",
            F.round("pmi", 4).alias("pmi"),
        )

    def snm_pairs(spark, sf):
        # sorted-neighborhood near-dup candidates (Hernández-Stolfo):
        # block-partitioned key sort, window-4 band join, token-set
        # Jaccard verify at 0.8
        out = dd.sorted_neighborhood_pairs(
            _docs(spark, sf), window=_SNM_WIN, key_len=_SNM_KEYLEN,
            block_len=_SNM_BLOCKLEN, threshold=_SNM_THR,
            content_col="text",
        )
        return out.select("a", "b", "jaccard")

    def ppmi_neighbors(spark, sf):
        # distributional term similarity: cosine over document-level
        # PPMI vectors (Turney & Pantel), top-3 neighbors per query
        # term; inherits term_pmi's df band valves
        idx = _index(spark, sf)
        qterms = sorted(
            {t for _, text in QUERY_SET for t in text.lower().split()}
        )
        out = ix.ppmi_neighbors(
            idx, qterms, topn=_PPMI_TOPN,
            min_df=_PMI_MIN_DF, max_df=_PMI_MAX_DF,
            min_co_df=_PMI_MIN_CO,
        )
        return out.select(
            "qterm", "rank", "neighbor", F.round("cos", 4).alias("cos")
        )

    def asof_last_view(spark, sf):
        # point-in-time join: latest 'view' at-or-before each 'click'
        # per user, 24 h tolerance — oracled by DuckDB's native ASOF
        # LEFT JOIN + tolerance post-filter. Integer-microsecond times
        # make ordering engine-exact; ~7% of clicks have no qualifying
        # view (null path exercised).
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet")).select(
            "event_id", "user_id", "event_type",
            eo.epoch_us("ts").alias("t_us"), "value",
        )
        clicks = ev_df.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "t_us"
        )
        views = ev_df.filter(F.col("event_type") == "view").select(
            "user_id",
            "t_us",
            F.col("event_id").alias("view_id"),
            F.col("value").alias("view_value"),
        )
        out = eo.asof_join(
            clicks,
            views,
            key="user_id",
            left_time_us="t_us",
            right_time_us="t_us",
            payload_cols=["view_id", "view_value"],
            tolerance_us=_ASOF_TOL_US,
        )
        return out.select(
            "event_id", "user_id", "t_us", "view_id",
            F.round("view_value", 4).alias("view_value"),
            "asof_time_us",
        )

    def countmin_sketch(spark, sf):
        # CMS of collection term frequencies over the portable
        # md5-60bit + double-hash column map; the cell table IS the
        # deterministic sketch, so the oracle replays it exactly
        from luc4ir_spark.operators import sketches as sk

        idx = _index(spark, sf)
        return sk.countmin_sketch(
            idx.term_stats, "term", "cf",
            depth=_CMS_DEPTH, width=_CMS_WIDTH,
        )

    def bloom_membership(spark, sf):
        # portable Bloom filter over the vocab + membership probes;
        # deterministic bits, so both the false-negative-free hits and
        # any false positives replay exactly
        from luc4ir_spark.operators import sketches as sk

        idx = _index(spark, sf)
        bits = sk.bloom_filter_bits(
            idx.term_stats, "term", m_bits=_BLOOM_M, k_hashes=_BLOOM_K
        )
        probes = spark.createDataFrame(
            [(w,) for w in _BLOOM_PROBES], "term string"
        )
        out = sk.bloom_might_contain(
            bits, probes, "term", m_bits=_BLOOM_M, k_hashes=_BLOOM_K
        )
        return out.select("key", "might_contain")

    def hll_distinct(spark, sf):
        # per-event-type HyperLogLog distinct users over the portable
        # md5-60bit hash — deterministic registers, so the oracle
        # replays the sketch itself; n_exact shows the real error
        from luc4ir_spark.operators import sketches as sk

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        keyed = ev_df.select(
            "event_type", F.col("user_id").cast("string").alias("key")
        )
        est = sk.hll_distinct(
            keyed, "key", group_col="event_type", m=_HLL_M, w=_HLL_W
        )
        exact = ev_df.groupBy("event_type").agg(
            F.countDistinct("user_id").cast("long").alias("n_exact")
        )
        return est.join(exact, "event_type").select(
            "event_type", "n_registers", "v_zero",
            F.round("est_distinct", 4).alias("est_distinct"),
            "n_exact",
        )

    def selectivity_est(spark, sf):
        # query-planner conjunctive cardinality estimation:
        # |docs('table') AND docs('window')| from two k=64 KMV
        # sketches of the posting lists, exact counts alongside —
        # the sketch route a planner takes when posting lists are
        # remote/sharded and an exact intersection is the query itself
        from luc4ir_spark.operators import sketches as sk

        idx = _index(spark, sf)
        a = idx.postings.filter(F.col("term") == "table").select(
            F.col("doc_id").alias("v")
        )
        b = idx.postings.filter(F.col("term") == "window").select(
            F.col("doc_id").alias("v")
        )
        return sk.kmv_set_ops(a, b, "v", k=_KMV_K)

    def kmv_set_ops(spark, sf):
        # theta-sketch set operations: click-users x view-users
        # intersection/union/jaccard estimates from two k=64 KMV
        # sketches, exact cardinalities alongside
        from luc4ir_spark.operators import sketches as sk

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        a = ev_df.filter(F.col("event_type") == "click").select(
            "user_id"
        )
        # B = heavy users (>= 70 events): 54 < k at sf0.01, so the
        # m < k exact-sketch branch and a partial overlap are both hit
        b = (
            ev_df.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") >= 70)
            .select("user_id")
        )
        return sk.kmv_set_ops(a, b, "user_id", k=_KMV_K)

    def distinct_sketch(spark, sf):
        # per-event-type approximate distinct users via the KMV sketch
        # over the portable mix hash — deterministic, so the oracle
        # replays the sketch itself; n_exact shows the real error
        from luc4ir_spark.operators import sketches as sk

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        est = sk.distinct_kmv_sketch(
            ev_df, ["event_type"], "user_id", k=_KMV_K
        )
        exact = ev_df.groupBy("event_type").agg(
            F.countDistinct("user_id").cast("long").alias("n_exact")
        )
        return est.join(exact, "event_type").select(
            "event_type", "m", "kth_hash",
            F.round("est_distinct", 4).alias("est_distinct"),
            "n_exact",
        )

    def event_rollup(spark, sf):
        # hypertable-style continuous aggregate: one Catalyst rollup
        # pass over (event_type, day, hour); integer-cents sums keep
        # the value aggregate fold-order-exact
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return eo.hypertable_rollup(ev_df, dims=["event_type"])

    def link_ppr(spark, sf):
        # personalized PageRank (random walk with restart) from the
        # doc_id % 10 == 0 seed set, same integer-exact recurrence
        docs = _docs(spark, sf).select("doc_id")
        n = docs.count()
        seeds = docs.filter(F.col("doc_id") % 10 == 0)
        ns = seeds.count()
        edges = gr.synthetic_link_graph(docs, n)
        out = gr.pagerank_regular_exact(
            docs, edges, n, n_iter=3, id_col="doc_id",
            seeds=seeds, n_seeds=ns,
        )
        return out.select(
            F.col("id").alias("doc_id"),
            "pr_num",
            F.round("pr", 4).alias("pr"),
        )

    def spatial_radius(spark, sf):
        # grid-partitioned radius search (LatLonPoint.newDistanceQuery
        # + distance-sorted collector parity): integer tick coordinates
        # derived from doc_id via the portable mix hash, cell side ==
        # radius so the 3x3 broadcast neighbor join is a superset of
        # every true hit, exact int64 squared-distance rank
        from luc4ir_spark.functions import hashing as hx
        from luc4ir_spark.operators import spatial as spat

        pts = _docs(spark, sf).select(
            "doc_id",
            F.pmod(hx.mix_id_expr("doc_id"), F.lit(_SPATIAL_GRID))
            .cast("long")
            .alias("x"),
            F.pmod(
                hx.mix_id_expr(F.col("doc_id") + F.lit(_SPATIAL_SALT)),
                F.lit(_SPATIAL_GRID),
            )
            .cast("long")
            .alias("y"),
        )
        qs = spark.createDataFrame(
            _SPATIAL_QUERIES, "qid string, qx long, qy long"
        )
        return spat.grid_radius_join(pts, qs, radius=_SPATIAL_RADIUS)

    def docvalues_report(spark, sf):
        # columnar encoding selection (Lucene DocValues / Parquet
        # dictionary-page heuristic) over the two metadata columns
        from luc4ir_spark.plans import layout as ly

        return ly.docvalues_report(
            _docs(spark, sf), columns=["lang", "source"]
        )

    def postings_encoding(spark, sf):
        # per-term posting-list encoding selection: varbyte vs
        # Elias-Fano vs bitmap, all-integer CASE-chain sizing
        from luc4ir_spark.plans import layout as ly

        idx = _index(spark, sf)
        return ly.postings_encoding_report(
            idx.postings.select("term", "doc_id")
        )

    def compaction_plan(spark, sf):
        # OPTIMIZE-style bin-fill merge grouping over synthesized
        # per-source files (doc_id DIV 25 shards, n_chars byte sums)
        from luc4ir_spark.plans import layout as ly

        files = (
            _docs(spark, sf)
            .groupBy(
                F.col("source").alias("partition"),
                F.expr("doc_id DIV 25").cast("long").alias("file_id"),
            )
            .agg(F.sum("n_chars").cast("long").alias("size_bytes"))
        )
        return ly.compaction_plan(files, target_bytes=3000)

    def scan_pruning(spark, sf):
        # zone-map pruning simulation over TWO layouts of the same
        # rows: n_chars-range-clustered files prune, mix-hash files
        # don't — the measurable clustering argument; pruned files
        # carry the n_matching == 0 invariant the oracle checks
        from luc4ir_spark.functions import hashing as hx
        from luc4ir_spark.plans import layout as ly

        d = _docs(spark, sf).select("doc_id", "n_chars")
        clustered = d.withColumn(
            "file_id",
            F.concat(
                F.lit("r"),
                F.expr("n_chars DIV 100").cast("string"),
            ),
        )
        hashed = d.withColumn(
            "file_id",
            F.concat(
                F.lit("h"),
                F.pmod(hx.mix_id_expr("doc_id"), F.lit(8)).cast(
                    "string"
                ),
            ),
        )
        lo, hi = _PRUNE_RANGE
        rc = ly.scan_pruning_report(
            clustered, "n_chars", "file_id", lo, hi
        ).withColumn("layout", F.lit("range"))
        rh = ly.scan_pruning_report(
            hashed, "n_chars", "file_id", lo, hi
        ).withColumn("layout", F.lit("hash"))
        return rc.unionByName(rh)

    def source_vocab_overlap(spark, sf):
        # pairwise vocabulary Jaccard between sources (the lexical
        # drift companion to corpus_divergence's KL): integer set
        # sizes, |union| = |V1|+|V2|-|∩|, ONE division
        d = _docs(spark, sf)
        toks = F.array_remove(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"), ""
        )
        sv = (
            d.select("source", F.explode(toks).alias("term"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        sizes = sv.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("_n")
        )
        inter = (
            sv.alias("l")
            .join(
                sv.alias("r"),
                (F.col("l.term") == F.col("r.term"))
                & (F.col("l.source") < F.col("r.source")),
            )
            .groupBy(
                F.col("l.source").alias("s1"),
                F.col("r.source").alias("s2"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        )
        return (
            inter.join(
                sizes.select(
                    F.col("source").alias("s1"), F.col("_n").alias("_n1")
                ),
                "s1",
            )
            .join(
                sizes.select(
                    F.col("source").alias("s2"), F.col("_n").alias("_n2")
                ),
                "s2",
            )
            .select(
                "s1",
                "s2",
                "n_common",
                F.round(
                    F.col("n_common")
                    / (F.col("_n1") + F.col("_n2") - F.col("n_common")),
                    4,
                ).alias("jaccard"),
            )
        )

    def stopword_induction(spark, sf):
        # corpus-driven stop-list induction (the collection-statistics
        # route to the reference's shipped stop.txt): flag terms with
        # df/N > 3/4 by integer cross-multiplication; cf share 4dp
        idx = _index(spark, sf)
        n = idx.stats.n_docs
        total = float(idx.stats.total_tokens)
        return idx.term_stats.select(
            "term",
            F.col("df").cast("long").alias("df"),
            F.round(F.col("df") / F.lit(float(n)), 4).alias("df_frac"),
            F.round(F.col("cf") / F.lit(total), 4).alias("cf_share"),
            (F.col("df") * 4 > F.lit(3 * n)).alias("is_stop"),
        )

    def cache_plan(spark, sf):
        # hot-term cache budget fill: fixed-point density ordering
        # over (query freq / varbyte bytes), prefix-cut at 3000 bytes
        from luc4ir_spark.plans import layout as ly

        idx = _index(spark, sf)
        enc = ly.postings_encoding_report(
            idx.postings.select("term", "doc_id")
        ).select("term", F.col("varbyte_bytes").alias("bytes"))
        qf = (
            rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("qfreq"))
        )
        costs = enc.join(qf, "term", "left").select(
            "term",
            "bytes",
            F.coalesce("qfreq", F.lit(0)).cast("long").alias("qfreq"),
        )
        return ly.cache_plan(costs, budget_bytes=3000)

    def term_frontcoding(spark, sf):
        # BlockTree-style term-dictionary front-coding sizes: unrolled
        # common-prefix chain over the sorted vocab, all-integer
        from luc4ir_spark.plans import layout as ly

        idx = _index(spark, sf)
        return ly.term_dict_frontcoding_report(idx.term_stats)

    def spatial_bbox(spark, sf):
        # LatLonPoint.newBoxQuery parity: inclusive integer box — a
        # pure scan-local predicate (parquet-pushdown-able on a
        # materialized point table)
        from luc4ir_spark.functions import hashing as hx
        from luc4ir_spark.operators import spatial as spat

        pts = _docs(spark, sf).select(
            "doc_id",
            F.pmod(hx.mix_id_expr("doc_id"), F.lit(_SPATIAL_GRID))
            .cast("long")
            .alias("x"),
            F.pmod(
                hx.mix_id_expr(F.col("doc_id") + F.lit(_SPATIAL_SALT)),
                F.lit(_SPATIAL_GRID),
            )
            .cast("long")
            .alias("y"),
        )
        return spat.bbox_filter(pts, 100, 220, 40, 160)

    def zorder_events(spark, sf):
        # Morton z-values for the (user bucket, hour bucket) layout —
        # the data-skipping clustering key; pure integer bit math on
        # both engines. The range-partition+sort itself is physical
        # layout (not row content), so the gate checks the z math.
        from luc4ir_spark.operators import eventops as eo
        from luc4ir_spark.plans import layout as ly

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        base = ev_df.select(
            "event_id",
            F.col("user_id").bitwiseAND(F.lit(255)).cast("long")
            .alias("ub"),
            eo.epoch_us("ts").alias("_t"),
        ).select(
            "event_id",
            "ub",
            # integer DIV (not /: double division can mis-floor at
            # exact-multiple boundaries; DuckDB // is integer)
            F.expr("CAST((_t DIV 3600000000) % 256 AS LONG)").alias("hb"),
        )
        return base.withColumn(
            "z", ly.zorder_value(["ub", "hb"], bits=8)
        )

    def pack_sequences(spark, sf):
        return ts.pack_sequences(
            _docs(spark, sf),
            content_col="text",
            id_col="doc_id",
            seq_len=_PACK_SEQ_LEN,
            n_shards=_PACK_SHARDS,
        )

    def impact_topk(spark, sf):
        # impact-ordered anytime ranking (Anh-Moffat quantized
        # impacts / JASS SaaT): 8-bit per-term quantization, scoring
        # cut after the rho=500 highest-impact postings per query
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        out = wd.impact_quantized_topk(
            idx, qt, k=TOPK, bits=_IMP_BITS, rho=_IMP_RHO
        )
        return out.select(
            "qid", "doc_id", "rank", F.round("score", 4).alias("score")
        )

    def bm25_topk_wand(spark, sf):
        # block-max WAND over delta+varbyte compressed postings; must be
        # rank- and score-identical to the exhaustive bm25_topk, so it
        # shares that SQL oracle. The salt threshold is set to the
        # median query-term df so the gate exercises the SALTED path
        # end-to-end against the oracle, not just the single-shard fast
        # path: every term's blob is uniformly doc-sharded by
        # pmod(mix(doc_id), shards), each (qid, salt) kernel scores its
        # disjoint doc set exactly, and the per-qid merge is a trivial
        # top-k over shard results (no blob replication, no masking).
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        dfs = sorted(
            r["df"]
            for r in idx.term_stats.join(
                qt.select("term").distinct(), "term", "left_semi"
            ).collect()
        )
        thr = dfs[len(dfs) // 2] if dfs else 0
        cfg = ix.IndexConfig(
            analyzer=idx.config.analyzer,
            salt_df_threshold=int(thr),
            num_salt_shards=4,
            block_size=idx.config.block_size,
        )
        salted = ix.InvertedIndex(
            doc_stats=idx.doc_stats,
            postings=idx.postings,
            term_stats=idx.term_stats,
            stats=idx.stats,
            config=cfg,
        )
        run = wd.score_queries_wand(salted, qt, k=TOPK)
        return run.select(
            "qid", "doc_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("score", 4).alias("score"),
        )

    def eval_metrics(spark, sf):
        # run = bm25 top-10 per query; judgments = deterministic pseudo
        # qrels; per-query recall/RR/AP/P@5/nDCG as DataFrame aggregates
        # (reference: evaluator/* — AllRetrievedResults.java:58-118)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf).withColumn(
            "docid", F.col("doc_id").cast("string")
        )
        qrels = _pseudo_qrels(spark, sf)
        pq = ev.per_query_metrics(run, qrels, p_at=5, ndcg_at=10)
        return pq.select(
            "qid",
            "num_ret",
            "num_rel",
            "num_rel_ret",
            F.round("recall", 4).alias("recall"),
            F.round("rr", 4).alias("rr"),
            F.round("ap", 4).alias("ap"),
            F.round("p_at_5", 4).alias("p_at_5"),
            F.round("ndcg", 4).alias("ndcg"),
        )

    def _lm_run(spark, sf, kind):
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        sim = rt.Similarity(kind=kind, mu=MU, lam=LAM)
        run = rt.score_queries(idx, qt, k=TOPK, sim=sim)
        return run.select(
            "qid", "doc_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("score", 4).alias("score"),
        )

    def classic_topk(spark, sf):
        # Lucene ClassicSimilarity (sqrt-tf, squared idf, 1/sqrt(dl))
        return _lm_run(spark, sf, "classic")

    def spell_suggest(spark, sf):
        # SpellChecker parity: best in-vocab correction per OOV term,
        # (distance ASC, df DESC, term ASC) — integer keys only
        idx = _index(spark, sf)
        q = spark.createDataFrame(
            _SPELL_QUERIES, "qid string, term string"
        )
        return rt.suggest_terms(
            idx, q, max_edits=2, n_suggestions=1
        ).select("qid", "term", "suggestion", "distance", "df", "rank")

    def lmdir_topk(spark, sf):
        # LM-Dirichlet similarity (reference alternative at
        # retriever/TrecDocRetriever.java:306, mu=2000)
        return _lm_run(spark, sf, "lmdir")

    def lmjm_topk(spark, sf):
        # LM-Jelinek-Mercer (reference: MsMarcoTopDocs.java:82, lambda=.4)
        return _lm_run(spark, sf, "lmjm")

    def dfr_topk(spark, sf):
        # DFR I(n)L2 (Lucene DFRSimilarity(In, L, H2), c=1)
        return _lm_run(spark, sf, "dfr_inl2")

    def ib_topk(spark, sf):
        # Information-Based log-logistic (Lucene IBSimilarity(LL, DF, H2))
        return _lm_run(spark, sf, "ib_ll")

    def f2exp_topk(spark, sf):
        # Axiomatic F2EXP (Lucene AxiomaticF2EXP, s=0.5, k=0.35)
        return _lm_run(spark, sf, "f2exp")

    def pl2_topk(spark, sf):
        # DFR PL2 (Terrier default; Poisson + Laplace + H2, c=1)
        return _lm_run(spark, sf, "pl2")

    def spl_topk(spark, sf):
        # IB smoothed power law (Lucene IBSimilarity DistributionSPL)
        return _lm_run(spark, sf, "spl")

    def boolean_topk(spark, sf):
        # Lucene BooleanSimilarity: score = matched query weight sum
        # (here: distinct matched-term count), doc_id ties ASC
        return _lm_run(spark, sf, "boolean")

    def dfi_topk(spark, sf):
        # Divergence From Independence (Lucene DFISimilarity,
        # IndependenceStandardized)
        return _lm_run(spark, sf, "dfi")

    def dph_topk(spark, sf):
        # DPH (parameter-free DFR hypergeometric, Terrier DPH)
        return _lm_run(spark, sf, "dph")

    def pivoted_topk(spark, sf):
        # pivoted length-normalization VSM (Singhal SIGIR'96)
        return _lm_run(spark, sf, "pivoted")

    def boosting_topk(spark, sf):
        # BoostingQuery parity: docs containing the demote term stay in
        # the list but are pushed down by negative_boost before ranking
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        dem = spark.createDataFrame(
            [(qid, _DEMOTE_TERM) for qid, _ in QUERY_SET],
            "qid string, term string",
        )
        run = rt.boosting_query(
            idx, qt, dem, negative_boost=_NEG_BOOST, k=TOPK
        )
        return run.select(
            "qid", "doc_id", "rank", F.round("score", 4).alias("score")
        )

    def rescore_run(spark, sf):
        # QueryRescorer parity: BM25 top-50 window rescored with
        # LM-Dirichlet, combined 1.0*first + 1.0*second
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = rt.rescore_topk(
            idx,
            qt,
            first_k=_RESCORE_FIRST_K,
            k=TOPK,
            sim_second=rt.Similarity(kind="lmdir", mu=MU),
        )
        return run.select(
            "qid", "doc_id", "rank", F.round("score", 4).alias("score")
        )

    def range_facets(spark, sf):
        # LongRangeFacetCounts parity: [lo, hi) n_chars buckets over
        # the BM25 top-k hits (one overlapping range on purpose)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf)
        out = rt.range_facet_counts(
            run, _docs(spark, sf), value_col="n_chars", ranges=_FACET_RANGES
        )
        return out.select("qid", "bucket", "n_docs")

    def span_not(spark, sf):
        # SpanNotQuery: exact "slow hash" spans without 'batch' inside
        # the pre/post-widened window
        toks = ix.tokenize(
            _docs(spark, sf), SIMPLE, id_col="doc_id", content_col="text"
        )
        pos = ix.build_positional_postings(toks)
        return rt.span_not_query(
            pos, _PHRASE[:2], _SPANNOT_EXCLUDE,
            pre=_SPANNOT_PRE, post=_SPANNOT_POST,
        ).select("doc_id", "spannot_freq")

    def span_or(spark, sf):
        # SpanOrQuery: (slow...hash) OR (fast...merge) ordered spans
        # at slop 3, counted by distinct start across clauses
        toks = ix.tokenize(
            _docs(spark, sf), SIMPLE, id_col="doc_id", content_col="text"
        )
        pos = ix.build_positional_postings(toks)
        return rt.span_or_query(
            pos, [("slow", "hash"), ("fast", "merge")], slop=_SW_SLOP
        )

    def span_within(spark, sf):
        # SpanWithinQuery: 'hash' occurrences inside an ordered
        # (slow ... batch) span with slop 3
        toks = ix.tokenize(
            _docs(spark, sf), SIMPLE, id_col="doc_id", content_col="text"
        )
        pos = ix.build_positional_postings(toks)
        return rt.span_within_query(
            pos, (_PHRASE[0], _PHRASE[2]), _PHRASE[1], slop=_SW_SLOP
        ).select("doc_id", "n_within")

    def span_containing(spark, sf):
        # SpanContainingQuery: ordered (slow ... batch) spans (slop 3)
        # that contain a 'hash' occurrence, counted by distinct start
        toks = ix.tokenize(
            _docs(spark, sf), SIMPLE, id_col="doc_id", content_col="text"
        )
        pos = ix.build_positional_postings(toks)
        return rt.span_containing_query(
            pos, (_PHRASE[0], _PHRASE[2]), _PHRASE[1], slop=_SW_SLOP
        ).select("doc_id", "n_containing")

    def block_join(spark, sf):
        # ToParentBlockJoinQuery (ScoreMode.Max): BM25 over chunk
        # children with packed ids, parents take their best child
        chunks = ts.chunk_documents(
            _docs(spark, sf), content_col="text",
            chunk_tokens=_BJ_CHUNK, overlap=0,
        )
        children = chunks.select(
            (F.col("doc_id") * _BJ_PACK + F.col("chunk_idx")).alias(
                "doc_id"
            ),
            "chunk_text",
        )
        cidx = ix.build_index(
            children, ix.IndexConfig(analyzer=SIMPLE),
            content_col="chunk_text", cache=False,
        )
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = rt.block_join_topk(cidx, qt, parent_pack=_BJ_PACK, k=TOPK)
        return run.select(
            "qid", "parent_id", "rank", F.round("score", 4).alias("score")
        )

    def block_join_total(spark, sf):
        # ScoreMode.Total: parents sum their matching children
        chunks = ts.chunk_documents(
            _docs(spark, sf), content_col="text",
            chunk_tokens=_BJ_CHUNK, overlap=0,
        )
        children = chunks.select(
            (F.col("doc_id") * _BJ_PACK + F.col("chunk_idx")).alias(
                "doc_id"
            ),
            "chunk_text",
        )
        cidx = ix.build_index(
            children, ix.IndexConfig(analyzer=SIMPLE),
            content_col="chunk_text", cache=False,
        )
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = rt.block_join_topk(
            cidx, qt, parent_pack=_BJ_PACK, k=TOPK, score_mode="total"
        )
        return run.select(
            "qid", "parent_id", "rank", F.round("score", 4).alias("score")
        )

    def block_join_children(spark, sf):
        # ToChildBlockJoinQuery: chunk children inherit the parent's
        # whole-document BM25 score
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        chunks = ts.chunk_documents(
            _docs(spark, sf), content_col="text",
            chunk_tokens=_BJ_CHUNK, overlap=0,
        )
        children = chunks.select(
            "doc_id",
            (F.col("doc_id") * _BJ_PACK + F.col("chunk_idx")).alias(
                "child_id"
            ),
        )
        run = rt.block_join_children_topk(
            idx, qt, children, k=TOPK,
            parent_col="doc_id", child_col="child_id",
        )
        return run.select(
            "qid", "child_id", "parent_id", "rank",
            F.round("score", 4).alias("score"),
        )

    def common_terms(spark, sf):
        # CommonTermsQuery: high-df terms score but cannot select
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, _CT_QUERIES, SIMPLE)
        run = rt.common_terms_query(
            idx, qt, max_df_ratio=_CT_MAX_DF_RATIO, k=TOPK
        )
        return run.select(
            "qid", "doc_id", "rank", F.round("score", 4).alias("score")
        )

    def corpus_divergence(spark, sf):
        # per-source unigram-LM KL vs the whole corpus (mix drift)
        idx = _index(spark, sf)
        strata = _docs(spark, sf).select(
            "doc_id", F.col("source").alias("stratum")
        )
        out = ts.stratum_divergence(idx.postings, strata)
        return out.select(
            "stratum", "n_terms", F.round("kl", 4).alias("kl")
        )

    def facet_hierarchy(spark, sf):
        # taxonomy drill-down facets: counts at every (source, lang)
        # prefix depth of the BM25 top-k run, one rollup pass
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf)
        out = rt.facet_hierarchy(
            run, _docs(spark, sf), levels=["source", "lang"]
        )
        return out.select("qid", "source", "lang", "n_docs")

    def risk_eval(spark, sf):
        # URisk (alpha=1) over the same AP pair as run_ttest
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        qrels = _pseudo_qrels(spark, sf)
        excl = spark.createDataFrame(
            [(qid, _EXCLUDE_TERM) for qid, _ in QUERY_SET],
            "qid string, term string",
        )

        def perq(run):
            return ev.per_query_metrics(
                run.withColumn("docid", F.col("doc_id").cast("string")),
                qrels, p_at=5, ndcg_at=10,
            )

        pa = perq(_base_run(spark, sf))
        pb = perq(rt.score_queries(idx, qt, k=TOPK, exclude_terms=excl))
        r = ev.risk_metric(pa, pb, metric_col="ap", alpha=1.0)
        return r.select(
            "n", "n_wins", "n_losses",
            F.round("urisk", 4).alias("urisk"),
        )

    def importance_sample(spark, sf):
        # quality-weighted soft sampling: keep-probability = damped
        # classifier sigmoid, decided by the portable mix bucket
        idx = _index(spark, sf)
        sid = F.conv(F.substring(F.md5("term"), 1, 15), 16, 10).cast(
            "long"
        )
        wts = idx.term_stats.select(
            "term",
            (F.pmod(sid, F.lit(2001)) - 1000).cast("double").alias(
                "weight"
            ),
        )
        scored = ts.classifier_score(
            _docs(spark, sf), wts, bias=0.0, threshold=0.5,
            content_col="text",
        )
        p = (
            F.lit(1.0)
            / (F.lit(1.0) + F.exp(-(F.col("logit") / F.lit(_IMP_SCALE))))
        ).alias("p")
        kept = ut.sample_by_score(
            scored.select("doc_id", p), "p",
            seed=_IMP_SEED, resolution=_IMP_RES,
        )
        return kept.select("doc_id", F.round("p", 4).alias("p"))

    def bo1_expansion(spark, sf):
        # Terrier Bo1 (Bose-Einstein) DFR expansion weights over the
        # BM25 top-FDBK_DOCS pool, rounded-weight truncation window
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf)
        out = fb.bo1_expand(
            idx, run, num_top_docs=FDBK_DOCS, top_m=_BO1_M
        )
        return out.select(
            "qid", "term", "tf_x", F.round("weight", 4).alias("weight")
        )

    def significant_terms(spark, sf):
        # ES significant-text: terms over-represented in each query's
        # feedback set vs the corpus LM
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf)
        out = fb.significant_terms(
            idx, run, num_top_docs=FDBK_DOCS, top_m=_SIG_TOPM
        )
        return out.select(
            "qid", "term", "rank", F.round("sig", 4).alias("sig")
        )

    def percolate(spark, sf):
        # reverse search: which registered queries does each doc
        # satisfy entirely (all-MUST; q4's impossible term never fires)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        out = rt.percolate(
            _docs(spark, sf), qt, mode="all", content_col="text"
        )
        return out.select("doc_id", "qid", "n_matched")

    def percolate_scored(spark, sf):
        # scoring percolation: per doc, the fully-matched registered
        # queries ranked by their BM25 score against that doc
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        return rt.percolate_scored(idx, qt, k=2)

    def percolate_indexed(spark, sf):
        # ES-style indexed percolation: registry keyed by each query's
        # rarest corpus term (OOV df=0), candidates via a term-keyed
        # join (no registry broadcast), exact all-MUST verification —
        # result set identical to percolate, so the same oracle gates it
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        idx = _index(spark, sf)
        out = rt.percolate_indexed(
            _docs(spark, sf), qt, idx.term_stats, content_col="text"
        )
        return out.select("doc_id", "qid", "n_matched")

    def percolate_streamed(spark, sf):
        # the STREAMING percolator end-to-end: wave 1 = the corpus,
        # wave 2 re-delivers docs 0/1 under shifted ids; percolation
        # is stateless so the flushed set is the batch percolate of
        # the union (which the oracle replays)
        import shutil
        import tempfile

        from luc4ir_spark.streaming.percolate_stream import (
            read_percolate_matches,
            start_percolate_stream,
        )

        base = tempfile.mkdtemp(prefix="luc4ir_perc_stream_")
        in_dir = os.path.join(base, "in")
        out_dir = os.path.join(base, "out")
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        docs = _docs(spark, sf).select(
            "doc_id", F.col("text").alias("content")
        )
        waves = [
            docs,
            docs.filter(F.col("doc_id") < 2).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "content"
            ),
        ]
        try:
            for wave in waves:
                wave.write.mode("append").parquet(in_dir)
                q = start_percolate_stream(spark, in_dir, out_dir, qt)
                q.awaitTermination(300)
            return read_percolate_matches(spark, out_dir).localCheckpoint()
        finally:
            shutil.rmtree(base, ignore_errors=True)

    def index_check(spark, sf):
        # CheckIndex parity: structural invariants of the index
        # relations, all violation counts zero on a healthy build
        return ix.check_index(_index(spark, sf))

    def index_disk_usage(spark, sf):
        # IndexDiskUsage parity: per-(term, salt) compressed blob
        # sizes, byte-exact vs the analytic varbyte-length replay
        import dataclasses

        idx = _index(spark, sf)
        cfg = dataclasses.replace(
            idx.config,
            num_salt_shards=_DU_SHARDS,
            block_size=_DU_BLOCK,
        )
        blobs = wd.build_compressed_postings(
            dataclasses.replace(idx, config=cfg)
        )
        return blobs.select(
            "term",
            F.col("salt").cast("long").alias("salt"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.octet_length("blob").cast("long").alias("blob_bytes"),
        )

    def shard_idf_drift(spark, sf):
        # distributed-search local-vs-global idf drift per term
        idx = _index(spark, sf)
        out = ix.shard_idf_drift(
            idx, n_shards=_DRIFT_S, topn=_DRIFT_TOPN
        )
        return out.select("term", "df", "rank", "drift")

    def shard_skew(spark, sf):
        # salted-layout balance report: per-shard blob/posting/byte
        # totals over the same pinned layout as index_disk_usage
        import dataclasses

        idx = _index(spark, sf)
        cfg = dataclasses.replace(
            idx.config,
            num_salt_shards=_DU_SHARDS,
            block_size=_DU_BLOCK,
        )
        blobs = wd.build_compressed_postings(
            dataclasses.replace(idx, config=cfg)
        )
        return wd.shard_skew_report(blobs).select(
            "salt", "n_blobs", "n_postings", "total_bytes"
        )

    def proximity_rerank(spark, sf):
        # Tao-Zhai MinDist proximity boost re-ranking the BM25 window
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf)
        toks = ix.tokenize(
            _docs(spark, sf), SIMPLE, id_col="doc_id", content_col="text"
        )
        pos = ix.build_positional_postings(toks)
        out = rt.proximity_rerank(run, pos, qt, k=TOPK)
        return out.select(
            "qid", "doc_id", "rank", F.round("score", 4).alias("score")
        )

    def best_fragments(spark, sf):
        # FVH-style multi-fragment highlighting over the BM25 run
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf)
        toks = ix.tokenize(
            _docs(spark, sf), SIMPLE, id_col="doc_id", content_col="text"
        )
        pos = ix.build_positional_postings(toks)
        out = rt.best_fragments(
            run, pos, qt, width=_FRAG_WIDTH, n_fragments=_FRAG_N
        )
        return out.select(
            "qid", "doc_id", "frag_rank", "start_pos", "n_hits"
        )

    def word_break(spark, sf):
        # WordBreakSpellChecker parity: OOV run-on terms split into
        # two in-vocab words, (df sum DESC, split pos ASC)
        idx = _index(spark, sf)
        return rt.word_break_suggest(idx, _WB_TERMS, k=3).select(
            "term", "left", "right", "df_sum", "rank"
        )

    def did_you_mean(spark, sf):
        # spell collation: OOV tokens replaced by their best
        # suggestion, order preserved, conjunctive hit probe
        idx = _index(spark, sf)
        q = spark.createDataFrame(
            _DYM_QUERIES, "qid string, pos int, term string"
        )
        out = rt.did_you_mean(idx, q, max_edits=_DYM_MAX_EDITS)
        return out.select("qid", "collated", "n_hits")

    def event_funnel(spark, sf):
        # ordered view -> click -> purchase funnel (greedy-earliest
        # chain; >= ties count)
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return eo.funnel_counts(
            ev_df, steps=["view", "click", "purchase"]
        ).select("step", "event_type", "n_users")

    def event_paths(spark, sf):
        # top-20 length-3 behavioral paths (stacked leads over one
        # user window; all-integer/string ordering)
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return eo.event_paths(ev_df, length=3, top_n=20)

    def event_transitions(spark, sf):
        # first-order Markov transition counts per user path
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return eo.event_transitions(ev_df).select(
            "src", "dst", "n_transitions"
        )

    def event_ewma(spark, sf):
        # truncated-kernel EWMA (alpha=1/2) of densified daily counts
        # per type — integer kernel weights, one final division
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        out = eo.event_ewma(ev_df, window_days=_EWMA_W)
        return out.select(
            "event_type", "day_us", "n_events",
            F.round("ewma", 4).alias("ewma"),
        )

    def user_rfm(spark, sf):
        # RFM segmentation via broadcast quantile boundaries
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        out = eo.rfm_report(ev_df)
        return out.select(
            "user_id", "recency_days", "frequency", "monetary_cents",
            "r_score", "f_score", "m_score", "rfm",
        )

    def event_anomaly(spark, sf):
        # trailing z-score spike/drop detection on daily counts
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        out = eo.event_anomaly(
            ev_df, window_days=_ANOM_W, z_threshold=_ANOM_Z,
            min_history=_ANOM_MIN,
        )
        return out.select(
            "event_type", "day_us", "n_events",
            F.round("z", 4).alias("z"),
        )

    def event_retention(spark, sf):
        # cohort retention matrix over the event stream (first-day
        # cohorts × day offsets, distinct active users per cell)
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        out = eo.retention_cohorts(ev_df)
        return out.select("cohort_day", "day_offset", "n_users")

    def event_json_props(spark, sf):
        # semi-structured props: JVM json-path extraction + per-type agg
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        out = eo.json_prop_stats(ev_df, prop="k")
        return out.select(
            "grp", "n",
            F.col("p_sum").cast("long").alias("p_sum"),
            F.round("p_avg", 4).alias("p_avg"),
        )

    def click_attribution(spark, sf):
        # (click, view) same-user pairs within the lookback window —
        # the batch twin of the stream-stream interval join
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return eo.attribution_pairs(
            ev_df, window_seconds=_ATTR_WINDOW_S
        ).select("user_id", "click_id", "view_id", "click_us", "view_us")

    def attribution_streamed(spark, sf):
        # the stream-stream INTERVAL JOIN end-to-end: two parity waves
        # force cross-micro-batch matching through checkpointed join
        # state; span-covering watermark pins replay determinism
        import shutil
        import tempfile

        from luc4ir_spark.streaming.attribution_stream import (
            read_attribution_pairs,
            start_attribution_stream,
        )

        base = tempfile.mkdtemp(prefix="luc4ir_attr_stream_")
        in_dir = os.path.join(base, "in")
        out_dir = os.path.join(base, "out")
        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        waves = [
            ev_df.filter(F.col("event_id") % 2 == 0),
            ev_df.filter(F.col("event_id") % 2 == 1),
        ]
        try:
            for wave in waves:
                wave.write.mode("append").parquet(in_dir)
                q = start_attribution_stream(
                    spark, in_dir, out_dir,
                    window_seconds=_ATTR_WINDOW_S,
                )
                q.awaitTermination(300)
            return read_attribution_pairs(spark, out_dir).localCheckpoint()
        finally:
            shutil.rmtree(base, ignore_errors=True)

    def bootstrap_map_ci(spark, sf):
        # deterministic bootstrap CI over the plain run's per-query AP
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        qrels = _pseudo_qrels(spark, sf)
        pa = ev.per_query_metrics(
            _base_run(spark, sf).withColumn(
                "docid", F.col("doc_id").cast("string")
            ),
            qrels, p_at=5, ndcg_at=10,
        )
        out = ev.bootstrap_ci(
            pa, metric_col="ap", n_boot=_BOOT_B, seed=_BOOT_SEED
        )
        return out.select(
            "n", "n_boot",
            F.round("mean", 4).alias("mean"),
            F.round("ci_lo", 4).alias("ci_lo"),
            F.round("ci_hi", 4).alias("ci_hi"),
        )

    def bootstrap_paired(spark, sf):
        # paired bootstrap significance test over the SAME per-query
        # AP pair as run_ttest (plain BM25 vs MUST_NOT run)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        qrels = _pseudo_qrels(spark, sf)
        excl = spark.createDataFrame(
            [(qid, _EXCLUDE_TERM) for qid, _ in QUERY_SET],
            "qid string, term string",
        )

        def perq(run):
            return ev.per_query_metrics(
                run.withColumn("docid", F.col("doc_id").cast("string")),
                qrels, p_at=5, ndcg_at=10,
            )

        pa = perq(_base_run(spark, sf))
        pb = perq(
            rt.score_queries(idx, qt, k=TOPK, exclude_terms=excl)
        )
        out = ev.bootstrap_paired_test(
            pa, pb, metric_col="ap", n_boot=_BOOT_B, seed=_BOOT_SEED
        )
        return out.select(
            "n", "n_boot", "sum_obs", "n_le0",
            F.round("p_le0", 4).alias("p_le0"),
        )

    def run_permutation(spark, sf):
        # Fisher randomization test (Smucker'07) over the SAME
        # per-query AP pair as run_ttest (plain BM25 vs MUST_NOT run)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        qrels = _pseudo_qrels(spark, sf)
        excl = spark.createDataFrame(
            [(qid, _EXCLUDE_TERM) for qid, _ in QUERY_SET],
            "qid string, term string",
        )

        def perq(run):
            return ev.per_query_metrics(
                run.withColumn("docid", F.col("doc_id").cast("string")),
                qrels, p_at=5, ndcg_at=10,
            )

        pa = perq(_base_run(spark, sf))
        pb = perq(
            rt.score_queries(idx, qt, k=TOPK, exclude_terms=excl)
        )
        out = ev.permutation_test(
            pa, pb, metric_col="ap", n_perm=_PERM_B, seed=_PERM_SEED
        )
        return out.select(
            "n", "n_perm", "sum_obs", "n_ge",
            F.round("p_two", 4).alias("p_two"),
        )

    def snapshot_diff(spark, sf):
        # crawl-refresh diff: the new snapshot drops doc_id%7==0,
        # revises doc_id%5==0, and adds three shifted-id docs
        docs = _docs(spark, sf)
        kept = docs.filter(F.col("doc_id") % 7 != 0)
        new_docs = (
            kept.select(
                "doc_id",
                F.when(
                    F.col("doc_id") % 5 == 0,
                    F.concat(F.col("text"), F.lit(" rev2")),
                ).otherwise(F.col("text")).alias("text"),
            )
            .unionByName(
                docs.filter(F.col("doc_id") < 3).select(
                    (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
                )
            )
        )
        out = dd.snapshot_diff(docs, new_docs, content_col="text")
        return out.select("doc_id", "status", "old_digest", "new_digest")

    def blocklist(spark, sf):
        # banned-phrase screening: literal substring hits, zero-shuffle
        out = ts.blocklist_filter(
            _docs(spark, sf), _BLOCKLIST, content_col="text"
        )
        return out.select("doc_id", "n_hits", "keep")

    def cori_selection(spark, sf):
        # CORI resource selection (Callan SIGIR'95): rank the source
        # "shards" per query from index-level stats only
        from luc4ir_spark.operators import federation as fed

        idx = _index(spark, sf)
        shard_map = _docs(spark, sf).select(
            "doc_id", F.col("source").alias("shard")
        )
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        return fed.cori_collection_scores(idx.postings, shard_map, qt)

    def redde_selection(spark, sf):
        # ReDDE sample-based shard ranking: 25% mix-hash central
        # sample, BM25 on the sample index, per-shard top-n hit counts
        # scaled back by N_s/n_s
        from luc4ir_spark.functions import hashing as hx
        from luc4ir_spark.operators import federation as fed

        docs = _docs(spark, sf)
        samp_pred = (
            F.pmod(hx.mix_id_expr("doc_id"), F.lit(_REDDE_MOD)) == 0
        )
        sample = docs.filter(samp_pred)
        cfg = ix.IndexConfig(analyzer=SIMPLE)
        sidx = ix.build_index(
            sample, cfg, id_col="doc_id", content_col="text",
            cache=False,
        )
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = rt.score_queries(sidx, qt, k=_REDDE_TOP)
        shard_map = docs.select(
            "doc_id", F.col("source").alias("shard")
        )
        return fed.redde_collection_scores(
            run.select("qid", "doc_id", "rank"),
            shard_map,
            sample.select("doc_id"),
            n_top=_REDDE_TOP,
        )

    def cori_merge(spark, sf):
        # CORI result merging: two parity shards scored with
        # SHARD-LOCAL stats, beliefs from the full postings, min-max
        # normalized rescale (D + 0.4·D·C'')/1.4, merged top-k
        from luc4ir_spark.operators import federation as fed

        docs = _docs(spark, sf)
        cfg = ix.IndexConfig(analyzer=SIMPLE)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        runs = []
        for p in (0, 1):
            half = ix.build_index(
                docs.filter(F.col("doc_id") % 2 == p), cfg,
                id_col="doc_id", content_col="text", cache=False,
            )
            r = rt.score_queries(half, qt, k=TOPK)
            runs.append(
                r.select(
                    F.lit(f"s{p}").alias("shard"), "qid", "doc_id",
                    "score",
                )
            )
        shard_runs = runs[0].unionByName(runs[1])
        shard_map = docs.select(
            "doc_id",
            F.concat(
                F.lit("s"), (F.col("doc_id") % 2).cast("string")
            ).alias("shard"),
        )
        idx = _index(spark, sf)
        beliefs = fed.cori_collection_scores(
            idx.postings, shard_map, qt
        ).select("qid", "shard", "belief")
        return fed.cori_merge_runs(shard_runs, beliefs, k=TOPK)

    def join_query(spark, sf):
        # Lucene JoinUtil query-time join over source (ScoreMode.None)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        out = rt.join_query(idx, qt, _docs(spark, sf), field="source")
        return out.select("qid", "doc_id")

    def join_scores(spark, sf):
        # JoinUtil ScoreMode.Max: docs ranked by the BEST from-match
        # score of their source (to-side expansion broadcast)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        return rt.join_query_scores(
            idx, qt, _docs(spark, sf), field="source",
            score_mode="max", k=TOPK,
        )

    def stats_agg(spark, sf):
        # ES stats aggregation over the BM25 top-k hits (n_chars)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf)
        out = rt.result_field_stats(
            run, _docs(spark, sf), value_col="n_chars"
        )
        return out.select(
            "qid", "n",
            F.round("vmin", 4).alias("vmin"),
            F.round("vmax", 4).alias("vmax"),
            F.round("vavg", 4).alias("vavg"),
            F.round("vstd", 4).alias("vstd"),
            F.round("vmed", 4).alias("vmed"),
        )

    def verbose_qsel(spark, sf):
        # max-avg-idf sliding-window verbose-query reduction
        # (reference: qsel/QuerySelector.java:69-96)
        from luc4ir_spark.functions.analysis import simple_tokens as st
        from luc4ir_spark.operators import qsel

        idx = _index(spark, sf)
        vq = spark.createDataFrame(
            VERBOSE_QUERIES, "qid string, text string"
        ).select("qid", st("text").alias("tokens"))
        out = qsel.select_verbose_query_terms(
            vq, idx.term_stats, idx.stats.n_docs, window_size=3
        )
        return out.select("qid", "term")

    def query_segmentation(spark, sf):
        # PMI-glue query segmentation (Bergsma-Wang family): split at
        # adjacent pairs with unseen or below-threshold corpus glue
        from luc4ir_spark.operators import qsel

        qq = spark.createDataFrame(QUERY_SET, "qid string, text string")
        out = qsel.query_segmentation(
            _docs(spark, sf), qq, threshold=_QSEG_THR, content_col="text"
        )
        return out.select("qid", "seg", "phrase", "n_terms")

    def rr_histogram(spark, sf):
        # reciprocal-rank bucket histogram (reference:
        # evaluator/AllRetrievedResults.java:70-88)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf).withColumn(
            "docid", F.col("doc_id").cast("string")
        )
        pq = ev.per_query_metrics(run, _pseudo_qrels(spark, sf))
        return ev.rr_histogram(pq).select(
            F.col("bucket").cast("int").alias("bucket"), "n"
        )

    def rm_weights(spark, sf):
        # RM-conditional relevance model over bm25 top-3 (fdbk.lambda=1
        # default; reference feedback/RelevanceModelConditional.java:24-48)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf)
        rlm = fb.relevance_model(idx, run, num_top_docs=FDBK_DOCS, lam=1.0)
        return rlm.select("qid", "term", F.round("wt", 4).alias("wt"))

    def rm1_iid_weights(spark, sf):
        # RM1 iid relevance model (reference
        # feedback/RelevanceModelIId.java:90-129) with a mixed lambda so
        # both the tf-pool and df-pool terms are exercised
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf)
        rlm = fb.relevance_model(
            idx, run, num_top_docs=FDBK_DOCS, lam=RM_IID_LAM,
            variant="rlm_iid",
        )
        return rlm.select("qid", "term", F.round("wt", 4).alias("wt"))

    def rocchio_weights(spark, sf):
        # Rocchio pseudo-feedback: alpha*q + beta*top-doc tf-idf
        # centroid, centroid truncated on the 4dp grid
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf)
        out = fb.rocchio_expand(
            idx, run, qt, num_top_docs=FDBK_DOCS,
            alpha=_ROC_A, beta=_ROC_B, top_m=_RM3_M,
        )
        return out.select(
            "qid", "term", F.round("weight", 4).alias("weight")
        )

    def rm3_weights(spark, sf):
        # RM3: truncated+renormalized RM1 interpolated with the
        # original query MLE (Indri fbOrigWeight convention)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf)
        rlm = fb.relevance_model(idx, run, num_top_docs=FDBK_DOCS, lam=1.0)
        out = fb.rm3_interpolate(
            rlm, qt, num_expansion_terms=_RM3_M, orig_weight=_RM3_LAM
        )
        return out.select(
            "qid", "term", F.round("weight", 4).alias("weight")
        )

    def query_clarity(spark, sf):
        # clarity = KL(RLM || collection LM) (reference
        # feedback/RelevanceModelIId.java:136-160)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf)
        rlm = fb.relevance_model(idx, run, num_top_docs=FDBK_DOCS, lam=1.0)
        out = fb.query_clarity(rlm, idx.term_stats, idx.stats.total_tokens)
        return out.select("qid", F.round("clarity", 4).alias("clarity"))

    def qq_jsdiv(spark, sf):
        # pairwise Jensen-Shannon divergence between query relevance
        # models (reference retriever/TrecDocRetriever.java:109-175)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf)
        rlm = fb.relevance_model(idx, run, num_top_docs=FDBK_DOCS, lam=1.0)
        out = fb.query_query_similarity(rlm, rlm)
        return out.select(
            "qid", "qid_b", F.round("js_divergence", 4).alias("js_divergence")
        )

    def hyperbolic_rerank(spark, sf):
        # hyperboloid-lift geodesic rerank of the feedback docs
        # (reference retriever/HyperbolicRetriever.java:29-226)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf)
        rlm = fb.relevance_model(idx, run, num_top_docs=FDBK_DOCS, lam=1.0)
        out = fb.hyperbolic_rerank(idx, run, rlm, num_top_docs=FDBK_DOCS)
        return out.select(
            "qid", "doc_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("score", 4).alias("score"),
        )

    def bm25_weighted(spark, sf):
        # boosted queries (Q3): explicit per-term weights flow through
        # the scorer as multiplicative boosts
        idx = _index(spark, sf)
        qt = spark.createDataFrame(
            WEIGHTED_QUERIES, "qid string, term string, weight double"
        )
        run = rt.score_queries(idx, qt, k=TOPK)
        return run.select(
            "qid", "doc_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("score", 4).alias("score"),
        )

    def jaccard_bigram_pairs(spark, sf):
        # word-bigram shingles through the same inverted-join pipeline
        out = dd.jaccard_pairs(
            _tokens(spark, sf), shingle_size=2, threshold=BIGRAM_JACCARD_T
        )
        return out.select("a", "b", F.round("jaccard", 4).alias("jaccard"))

    def dup_clusters(spark, sf):
        # connected components over the near-dup pair graph (cluster
        # representative = min reachable doc_id)
        return dd.duplicate_clusters(_jpairs(spark, sf))

    def dedup_corpus(spark, sf):
        # the deduplicated-corpus end artifact: min-doc_id
        # representative per near-dup component + untouched singletons
        kept = dd.dedup_corpus(_docs(spark, sf), _jpairs(spark, sf))
        return kept.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
        )

    def _pseudo_url_expr():
        # deterministic pseudo-URL with every normalization hazard
        # planted (case, www, default port, tracking params, unsorted
        # query, fragment); twin of _url_norm_ctes()'s `u` CTE
        from luc4ir_spark.functions import hashing as hx

        return F.concat(
            F.when(F.col("doc_id") % 2 == 0, F.lit("HTTP")).otherwise(
                F.lit("http")
            ),
            F.lit("://"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("WWW.")).otherwise(
                F.lit("")
            ),
            F.lit("site"),
            (F.pmod(hx.mix_id_expr("doc_id"), F.lit(50))).cast("string"),
            F.lit(".Example.COM"),
            F.when(F.col("doc_id") % 4 == 0, F.lit(":80")).otherwise(
                F.lit("")
            ),
            F.lit("/p/"),
            F.col("doc_id").cast("string"),
            F.lit("?b=2&utm_source=feed&a="),
            (F.col("doc_id") % 7).cast("string"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("#sec")).otherwise(
                F.lit("")
            ),
        )

    def url_normalize(spark, sf):
        # RFC 3986 URL canonicalization (the crawl-dedup key)
        from luc4ir_spark.operators import textstats as ts2

        d = _docs(spark, sf)
        out = ts2.normalize_urls(
            d.select("doc_id", _pseudo_url_expr().alias("url")),
            url_col="url",
        )
        return out.select("doc_id", "url_norm", "host")

    def robots_filter(spark, sf):
        # RFC 9309 robots screening: longest-prefix rule match,
        # allow on equal-length ties, allow when no rule matches
        from luc4ir_spark.operators import textstats as ts2

        d = _docs(spark, sf)
        norm = ts2.normalize_urls(
            d.select("doc_id", _pseudo_url_expr().alias("url")),
            url_col="url",
        )
        urls = norm.select(
            "doc_id",
            "host",
            F.regexp_extract(
                F.col("url_norm"),
                r"^[a-z][a-z0-9+.\-]*://[^/?#]+([^?#]*)",
                1,
            ).alias("path"),
        )
        rules = spark.createDataFrame(
            _robots_rules(),
            "host string, directive string, path_prefix string",
        )
        return ts2.robots_filter(urls, rules)

    def host_stats(spark, sf):
        # host-level curation report over the normalized hosts joined
        # back to n_chars quality; over-cap flag at _HOST_CAP docs
        from luc4ir_spark.operators import textstats as ts2

        d = _docs(spark, sf)
        hosts = ts2.normalize_urls(
            d.select("doc_id", _pseudo_url_expr().alias("url")),
            url_col="url",
        ).select("doc_id", "host")
        j = hosts.join(d.select("doc_id", "n_chars"), "doc_id")
        return ts2.host_stats(j, max_docs_per_host=_HOST_CAP)

    def inbatch_negatives(spark, sf):
        # DPR-style in-batch negative pairs: mix-hash batches,
        # anchor-dependent draw ordering, n_neg cut
        from luc4ir_spark.operators import utilsops as ut

        return ut.inbatch_negatives(
            _docs(spark, sf), n_neg=2, n_batches=16
        )

    def unimax(spark, sf):
        # UniMax epoch-capped waterfilling over per-source token
        # counts: budget = 95% of corpus tokens, max_epochs=1 — small
        # sources cap, the rest split the leftover (both branches hit)
        from luc4ir_spark.operators import utilsops as ut

        d = _docs(spark, sf)
        toks = F.array_remove(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"), ""
        )
        per = (
            d.select("source", F.size(toks).alias("_n"))
            .groupBy("source")
            .agg(F.sum("_n").cast("long").alias("n_tokens"))
        )
        total = per.agg(F.sum("n_tokens")).collect()[0][0]
        return ut.unimax_alloc(
            per, budget_tokens=(int(total) * 95) // 100, max_epochs=1
        )

    def crawl_schedule(spark, sf):
        # politeness-constrained frontier schedule over the normalized
        # hosts: per-host windows, md5-derived crawl delay, quality
        # (n_chars) priority — all-integer fetch times
        from luc4ir_spark.operators import textstats as ts2

        d = _docs(spark, sf)
        hosts = ts2.normalize_urls(
            d.select("doc_id", _pseudo_url_expr().alias("url")),
            url_col="url",
        ).select("doc_id", "host")
        urls = hosts.join(
            d.select("doc_id", F.col("n_chars").alias("priority")),
            "doc_id",
        )
        return ts2.crawl_schedule(urls, max_delay=5)

    def dedup_survivors(spark, sf):
        # survivorship dedup: keep the LONGEST member per near-dup
        # component (n_chars quality, doc_id tie-break) — the
        # CCNet/RefinedWeb keep-best policy vs dedup_corpus's min-id
        kept = dd.dedup_corpus_survivor(
            _docs(spark, sf), _jpairs(spark, sf), quality_col="n_chars"
        )
        return kept.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
        )

    def revisit_policy(spark, sf):
        # crawl revisit tiers from the snapshot-diff churn, per host;
        # host derived from doc_id so the shifted added ids map too
        from luc4ir_spark.functions import hashing as hx

        diff = snapshot_diff(spark, sf)
        hosts = diff.select(
            "doc_id",
            F.concat(
                F.lit("h"),
                F.pmod(hx.mix_id_expr("doc_id"), F.lit(10)).cast(
                    "string"
                ),
            ).alias("host"),
        )
        return dd.revisit_policy(diff, hosts)

    def decontaminate(spark, sf):
        # eval-set decontamination (GPT-3/PaLM-style trigram overlap):
        # eval corpus = every 19th doc; the train side is never shuffled
        toks = _tokens(spark, sf)
        ev = toks.filter(F.col("doc_id") % 19 == 0)
        return dd.decontaminate(toks, ev, shingle_size=3)

    def kl_rerank(spark, sf):
        # KL-divergence rerank of the feedback docs (reference
        # feedback/KLDivReranker.java:25-52; ascending KL)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf)
        rlm = fb.relevance_model(idx, run, num_top_docs=FDBK_DOCS, lam=1.0)
        out = fb.kl_divergence_rerank(idx, run, rlm, num_top_docs=FDBK_DOCS)
        return out.select(
            "qid", "doc_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("score", 4).alias("score"),
        )

    def expand_query_terms(spark, sf):
        # Q5: RLM query expansion -> (qid, term, weight) for the
        # re-retrieval pass (feedback/RelevanceModelIId.java:164-235)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf)
        rlm = fb.relevance_model(idx, run, num_top_docs=FDBK_DOCS, lam=1.0)
        out = fb.expand_query(
            rlm, qt, idx.term_stats, idx.stats.n_docs,
            num_expansion_terms=NUM_EXP_TERMS, fb_weight=FB_WEIGHT,
        )
        return out.select("qid", "term", F.round("weight", 4).alias("weight"))

    def feedback_rerank_run(spark, sf):
        # F9: retrieve -> RLM -> KL-rerank the head, splice the tail
        # (retriever/TrecDocRetriever.java:181-258, rerank mode)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        out = fb.retrieve_with_feedback(
            idx, qt, k=TOPK, num_top_docs=FDBK_DOCS, lam=1.0
        )
        return out.select(
            "qid", "doc_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("score", 4).alias("score"),
        )

    def diversity_rerank(spark, sf):
        # F5: greedy diversity rerank of the feedback pool (reference
        # feedback/DiversityReranker.java:66-141); the oracle unrolls
        # the 3-doc greedy loop stage by stage
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf).filter(
            F.col("rank") <= FDBK_DOCS
        )
        out = fb.diversity_rerank(idx, run, num_rerank=FDBK_DOCS)
        return out.select(
            "qid", "doc_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("score", 4).alias("score"),
        )

    def simhash_pairs(spark, sf):
        # 64-bit fingerprints, capped pigeonhole candidate buckets,
        # exact bit_count(xor) verification
        sim = dd.simhash(_tokens(spark, sf), num_bits=SIMHASH_BITS)
        out = dd.simhash_pairs(
            sim, max_hamming=SIMHASH_MAX_HAMMING, num_bits=SIMHASH_BITS,
            max_bucket_size=dd.DEFAULT_MAX_BUCKET_SIZE,
        )
        return out.select(
            "a", "b", F.col("hamming").cast("long").alias("hamming")
        )

    def _tokens(spark, sf):
        return _docs(spark, sf).select(
            "doc_id", simple_tokens("text").alias("tokens")
        )

    # dup_clusters / dedup_corpus / dedup_survivors all consume the SAME
    # jaccard near-dup pair graph — memoize the checkpointed pair
    # relation per (session, sf) exactly like _index, so a full drive
    # computes the candidate join + verify once instead of three times
    # (the three gates were the drive's slowest — VERDICT r5 item 5)
    _jpairs_cache: dict = {}

    def _jpairs(spark, sf):
        key = (id(spark), sf)
        p = _jpairs_cache.get(key)
        if p is None:
            p = dd.jaccard_pairs(
                _tokens(spark, sf), threshold=JACCARD_T
            ).localCheckpoint(eager=False)
            _jpairs_cache[key] = p
        return p

    def _emb(spark, sf):
        return spark.read.parquet(os.path.join(sf, "embeddings.parquet"))

    def exact_dedup(spark, sf):
        # digest groups over the corpus (reference has no dedup; this is
        # the training-pipeline op over the same table)
        return (
            _docs(spark, sf)
            .select("doc_id", F.md5("text").alias("digest"))
            .groupBy("digest")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.min("doc_id").alias("keep_doc_id"),
            )
        )

    def jaccard_pairs(spark, sf):
        out = _jpairs(spark, sf)
        return out.select("a", "b", F.round("jaccard", 4).alias("jaccard"))

    def containment_pairs(spark, sf):
        # overlap-coefficient near-subset pairs (Broder containment)
        out = dd.containment_pairs(
            _tokens(spark, sf), threshold=_CONTAIN_T
        )
        return out.select(
            "a", "b", F.round("containment", 4).alias("containment")
        )

    def minhash_signatures(spark, sf):
        return dd.minhash_signatures(_tokens(spark, sf), num_hashes=8)

    def minhash_join(spark, sf):
        # cross-corpus fuzzy dedup: the parity split stands in for
        # "new batch vs existing corpus"; same seeded banding on both
        # sides, first-colliding-band cap on BOTH sides in the oracle
        tk = _tokens(spark, sf)
        out = dd.minhash_lsh_join(
            tk.filter(F.col("doc_id") % 2 == 0),
            tk.filter(F.col("doc_id") % 2 == 1),
            num_hashes=8, band_size=2, threshold=JACCARD_T,
        )
        return out.select("a", "b", F.round("jaccard", 4).alias("jaccard"))

    def substring_pairs(spark, sf):
        # winnowing fingerprints (k-gram hash window minima) + exact
        # shared-fingerprint verify — the distributed stand-in for
        # suffix-array exact-substring dedup; fully deterministic
        # (60-bit md5 gram ids), so the SQL oracle replays winnowing,
        # the inverted candidate join, and verification exactly
        out = dd.substring_overlap_pairs(
            _tokens(spark, sf),
            k=_WINNOW_K,
            window=_WINNOW_W,
            min_shared=_WINNOW_MIN_SHARED,
        )
        return out.select(
            "a", "b", "shared_fps", F.round("overlap", 4).alias("overlap")
        )

    def vocab_coverage(spark, sf):
        return ts.vocab_coverage(
            _docs(spark, sf), content_col="text", coverage=0.9
        )

    def apply_vocab(spark, sf):
        # vocabulary application: per-doc OOV accounting against the
        # coverage-0.9 vocab (the gated vocab_coverage prefix)
        vocab = ts.vocab_coverage(
            _docs(spark, sf), content_col="text", coverage=0.9
        )
        out = ts.apply_vocab(_docs(spark, sf), vocab, content_col="text")
        return out.select(
            "doc_id", "n_tokens", "n_oov",
            F.round("oov_rate", 4).alias("oov_rate"),
        )

    def top_ngrams(spark, sf):
        return ts.top_ngrams(
            _docs(spark, sf), content_col="text", n=2, k=_TOP_NGRAMS_K
        )

    def simhash_fingerprints(spark, sf):
        return dd.simhash(_tokens(spark, sf), num_bits=32)

    def hybrid_rrf(spark, sf):
        # hybrid retrieval: the BM25 text run and an exact-cosine
        # embedding run (query embedding = the vector of doc i for
        # qid i) fused by reciprocal rank — rank-only, scale-free
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        bm = _base_run(spark, sf)
        emb = _emb(spark, sf)
        qmap = spark.createDataFrame(
            [(qid, i + 1) for i, (qid, _) in enumerate(QUERY_SET)],
            "qid string, vec_id long",
        )
        queries = qmap.join(emb, "vec_id").select(
            F.col("qid").alias("query_id"), "embedding"
        )
        annrun = ann.cosine_topk(emb, queries, k=TOPK).select(
            F.col("query_id").alias("qid"),
            F.col("vec_id").alias("doc_id"),
            "rank",
        )
        out = rt.rrf_fuse(
            bm.select("qid", "doc_id", "rank"), annrun, topk=TOPK
        )
        return out.select(
            "qid", "doc_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("rrf", 4).alias("rrf"),
        )

    def ann_cosine_topk(spark, sf):
        emb = _emb(spark, sf)
        queries = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = ann.cosine_topk(emb, queries, k=5)
        return out.select(
            "query_id", "vec_id", "rank", F.round("cosine", 4).alias("cosine")
        )

    def kmeans_step(spark, sf):
        # one exact Lloyd step over int8 codes (the oracle-able IVF
        # training iteration): lowest-4-id seeds, strict-less argmin
        emb = _emb(spark, sf)
        qz = ann.quantize_embeddings(emb)
        return ann.kmeans_step_quantized(
            qz, n_centroids=4, dim=64
        )

    def cluster_quality(spark, sf):
        # integer-exact silhouette-lite over the quantized Lloyd
        # assignment (own vs best-other centroid d2, per cluster)
        emb = _emb(spark, sf)
        qz = ann.quantize_embeddings(emb)
        return ann.cluster_quality_quantized(
            qz, n_centroids=4, dim=64
        )

    def jl_projection(spark, sf):
        # deterministic Rademacher JL sketch 64->8 (mix-parity signs;
        # explicit left-assoc sums — fold order pinned cross-engine)
        emb = _emb(spark, sf)
        out = ann.jl_project(emb, dim_in=64, dim_out=_JL_OUT)
        return out.select(
            "vec_id",
            *[
                F.round(f"y{j}", 4).alias(f"y{j}")
                for j in range(_JL_OUT)
            ],
        )

    def mutual_nn(spark, sf):
        # reciprocal exact-NN pairs (the bitext-mining mutual filter);
        # cosine reported from the a->b direction, round 4dp
        emb = _emb(spark, sf)
        out = ann.mutual_nn_pairs(emb)
        return out.select(
            "a", "b", F.round("cosine", 4).alias("cosine")
        )

    def ann_recall(spark, sf):
        # recall@5 of the multi-probe LSH run vs the exact top-5
        emb = _emb(spark, sf)
        queries = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        ap = ann.lsh_multiprobe_topk(
            emb, queries, k=5, n_planes=8, seed=42
        )
        ex = ann.cosine_topk(emb, queries, k=5)
        return ann.ann_recall_report(ap, ex).select(
            "n_exact", "n_approx", "n_hit", "recall"
        )

    def ann_quantized_topk(spark, sf):
        # SQ8 search asymmetry: int8-quantized corpus, exact queries
        emb = _emb(spark, sf)
        qz = ann.quantize_embeddings(emb)
        deq = qz.select(
            "vec_id",
            ann.dequantize_col(F.col("qvec"), F.col("scale")).alias(
                "embedding"
            ),
        )
        queries = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = ann.cosine_topk(deq, queries, k=5)
        return out.select(
            "query_id", "vec_id", "rank",
            F.round("cosine", 4).alias("cosine"),
        )

    def ann_truncated_topk(spark, sf):
        # Matryoshka-style truncated search: first 16 of 64 dims
        emb = _emb(spark, sf)
        tr = emb.select(
            "vec_id", F.slice("embedding", 1, _TRUNC_DIM).alias("embedding")
        )
        queries = tr.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = ann.cosine_topk(tr, queries, k=5)
        return out.select(
            "query_id", "vec_id", "rank",
            F.round("cosine", 4).alias("cosine"),
        )

    def ann_lsh_topk(spark, sf):
        # approximate path with an exact oracle: the hyperplanes are
        # seeded literals, so the SQL replays bucketing bit-for-bit
        emb = _emb(spark, sf)
        queries = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        # n_planes pinned (auto-derivation is corpus-sized) so the plane
        # literals in the oracle SQL match
        out = ann.lsh_cosine_topk(emb, queries, k=5, n_planes=8, n_tables=4)
        return out.select(
            "query_id", "vec_id", "rank", F.round("cosine", 4).alias("cosine")
        )

    def ann_multiprobe_topk(spark, sf):
        # multi-probe LSH: one table, the query probes its bucket plus
        # every 1-bit flip; plane literals make the oracle exact
        emb = _emb(spark, sf)
        queries = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = ann.lsh_multiprobe_topk(
            emb, queries, k=5, n_planes=8, seed=42
        )
        return out.select(
            "query_id", "vec_id", "rank", F.round("cosine", 4).alias("cosine")
        )

    def ann_ivf_topk(spark, sf):
        # IVF coarse-quantizer path: deterministic lowest-id centroids
        # (SQL-replayable), 4-of-16 probe, exact rerank
        emb = _emb(spark, sf)
        queries = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = ann.ivf_cosine_topk(
            emb, queries, k=5, n_centroids=16, n_probe=4
        )
        return out.select(
            "query_id", "vec_id", "rank", F.round("cosine", 4).alias("cosine")
        )

    def ann_pq_topk(spark, sf):
        # product-quantization ADC top-k: lowest-id codebook,
        # per-subspace argmin codes, per-query distance tables
        emb = _emb(spark, sf)
        queries = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = ann.pq_adc_topk(
            emb, queries, k=_PQ_TOPK, m_sub=_PQ_M, n_codes=_PQ_K,
            dim=_PQ_DIM,
        )
        return out.select("query_id", "vec_id", "rank", "adist")

    def minhash_lsh_pairs(spark, sf):
        # LSH banding + exact-Jaccard verify; fully deterministic
        # (fixed (a,b) literals + hash shingle ids), so the SQL oracle
        # replays banding, candidate join, and verification exactly
        out = dd.minhash_lsh_pairs(
            _tokens(spark, sf), num_hashes=8, band_size=2,
            threshold=JACCARD_T,
        )
        return out.select("a", "b", F.round("jaccard", 4).alias("jaccard"))

    def lsh_calibration(spark, sf):
        # banding-recall calibration: verified LSH pairs vs the exact
        # jaccard set at the same threshold (precision is 1 by
        # construction — both verify on full sets)
        return dd.lsh_recall_report(
            _tokens(spark, sf), num_hashes=8, band_size=2,
            threshold=JACCARD_T,
        )

    def token_count(spark, sf):
        return ts.token_count(_docs(spark, sf), content_col="text")

    def quality_score(spark, sf):
        return ts.quality_score(_docs(spark, sf), content_col="text")

    def repetition_stats(spark, sf):
        return ts.repetition_stats(_docs(spark, sf), content_col="text")

    def readability(spark, sf):
        # Flesch reading-ease; the synthetic corpus has no sentence
        # punctuation, so plant a doc_id-derived sentence tail
        # (deterministic, replayed identically in the oracle) so the
        # sentence-count path is actually exercised
        d = _docs(spark, sf).withColumn(
            "text_r",
            F.concat(
                F.col("text"),
                F.expr("repeat('. more words here', cast(doc_id % 3 as int))"),
                F.lit("."),
            ),
        )
        out = ts.readability(d, content_col="text_r")
        return out.select(
            "doc_id", "n_words", "n_sentences", "n_syllables",
            F.round("flesch", 4).alias("flesch"),
        )

    def pii_redaction(spark, sf):
        # plant one email / dotted quad / phone per doc (doc_id-derived,
        # deterministic), then scrub — same augmentation in the oracle
        d = _docs(spark, sf).withColumn(
            "text_pii",
            F.concat_ws(
                " ",
                F.col("text"),
                F.concat(
                    F.lit("user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
                F.concat(
                    F.lit("10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".7"),
                ),
                F.concat(
                    F.lit("call 555-01"),
                    F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
                    F.lit("-2345"),
                ),
            ),
        )
        return ts.redact_pii(d, content_col="text_pii")

    def cc_redaction(spark, sf):
        # plant one card-shaped number per doc (doc_id-keyed literal
        # from _CC_SAMPLES: valid plain/spaced/dashed + Luhn-invalid +
        # timestamp-shaped + none) and run the Luhn-validated scrub;
        # the oracle replays candidates/checksum/replace via
        # regexp_extract_all + list_filter + list_reduce
        arr = F.array(*[F.lit(s) for s in _CC_SAMPLES])
        d = _docs(spark, sf).withColumn(
            "text_cc",
            F.concat_ws(
                " ",
                F.col("text"),
                F.element_at(
                    arr,
                    (F.pmod(F.col("doc_id"), F.lit(len(_CC_SAMPLES))) + 1)
                    .cast("int"),
                ),
            ),
        )
        return ts.redact_credit_cards(d, content_col="text_cc")

    def lang_id(spark, sf):
        return ts.language_id(_docs(spark, sf), content_col="text")

    def rendezvous_hashing(spark, sf):
        # HRW routing at N=4 vs N=5: the transition matrix shows only
        # the new node steals docs (minimal disruption without a ring)
        docs = _docs(spark, sf).select("doc_id")
        a = ut.rendezvous_assign(docs, _HRW_NODES[:4]).withColumnRenamed(
            "node_id", "node4"
        )
        b = ut.rendezvous_assign(docs, _HRW_NODES).withColumnRenamed(
            "node_id", "node5"
        )
        return (
            a.join(b, "doc_id")
            .groupBy("node4", "node5")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        )

    def consistent_hashing(spark, sf):
        # ring routing at N=4 vs N=5 nodes: the transition matrix
        # shows only the new node steals docs
        docs = _docs(spark, sf).select("doc_id")
        a = ut.consistent_hash_assign(
            docs, _ch_points(_CH_N1), ring_bits=_CH_BITS
        ).withColumnRenamed("node_id", "node4")
        b = ut.consistent_hash_assign(
            docs, _ch_points(_CH_N2), ring_bits=_CH_BITS
        ).withColumnRenamed("node_id", "node5")
        return (
            a.join(b, "doc_id")
            .groupBy("node4", "node5")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        )

    def ring_balance(spark, sf):
        # vnode load smoothing: per-node counts at 1 vs 8 vnodes
        docs = _docs(spark, sf).select("doc_id")

        def counts(v, tag):
            return (
                ut.consistent_hash_assign(
                    docs, _rb_points(_RB_NODES, v), ring_bits=_CH_BITS
                )
                .groupBy("node_id")
                .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
                .select(
                    F.lit(tag).alias("config"), "node_id", "n_docs"
                )
            )

        return counts(1, "v1").unionByName(
            counts(_RB_VNODES, f"v{_RB_VNODES}")
        )

    def doc_keywords(spark, sf):
        # per-doc tf-idf top-3 keywords (rounded ordering)
        out = ts.doc_keywords(
            _docs(spark, sf), topm=_KW_TOPM, content_col="text"
        )
        return out.select("doc_id", "term", "rank", "tfidf")

    def condensed_ap(spark, sf):
        # AP over the judged-only condensed list (Sakai AP')
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf).withColumn(
            "docid", F.col("doc_id").cast("string")
        )
        out = ev.condensed_ap(run, _pseudo_qrels(spark, sf))
        return out.select(
            "qid", "n_judged_ret",
            F.round("ap_condensed", 4).alias("ap_condensed"),
        )

    def k_anonymity(spark, sf):
        # k-anonymity audit over (activity bucket, dominant type)
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        out = eo.k_anonymity_report(ev_df, k=_KANON_K)
        return out.select(
            "activity_bucket", "top_type", "n_users", "at_risk"
        )

    def burst_report(spark, sf):
        # per-user per-minute burst audit (rate-limit review list)
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return eo.burst_report(ev_df, threshold=_BURST_T)

    def query_volume(spark, sf):
        # head/tail query-volume coverage curve over the Zipf-ish
        # derived query log (isqrt density ramp)
        from luc4ir_spark.functions import hashing as hx
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        lg = ev_df.filter(F.col("event_type") == "view").select(
            F.concat(
                F.lit("q"),
                F.floor(
                    F.sqrt(
                        F.pmod(hx.mix_id_expr("event_id"), F.lit(10000))
                    )
                )
                .cast("long")
                .cast("string"),
            ).alias("query")
        )
        return eo.query_volume_curve(lg)

    def sat_clicks(spark, sf):
        # dwell-time SAT-click classification (Fox TOIS'05 30-second
        # convention): dwell = gap to the user's next event of any
        # type; terminal clicks satisfied, dwell_us = -1
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return eo.sat_clicks(ev_df)

    def l_diversity(spark, sf):
        # distinct l-diversity audit: same QI classes as k_anonymity,
        # sensitive attribute = dominant event type; classes with
        # < l distinct sensitive values flagged
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        out = eo.l_diversity_report(ev_df, l=_LDIV_L)
        return out.select(
            "activity_bucket", "n_users", "n_sensitive", "at_risk"
        )

    def event_seasonality(spark, sf):
        # day-of-week profile + EXACT chi2 uniformity (integer
        # numerator, one division); weekday from the epoch-day mod,
        # no timezone/locale formatting
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        return eo.weekday_seasonality(ev_df)

    def ab_ztest(spark, sf):
        # two-proportion z between mix-parity A/B arms; conversion =
        # the user has a purchase event
        from luc4ir_spark.functions.hashing import mix_id_expr
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        tagged = ev_df.select(
            "user_id",
            F.when(
                F.pmod(mix_id_expr("user_id"), F.lit(2)) == 0,
                F.lit("a"),
            ).otherwise(F.lit("b")).alias("variant"),
            (F.col("event_type") == "purchase").alias("converted"),
        )
        return eo.conversion_ztest(tagged)

    def t_closeness(spark, sf):
        # t-closeness audit: same QI classes + sensitive attribute as
        # the k/l audits; per-class total-variation distance to the
        # global sensitive distribution, integer-exact numerators,
        # flag by integer cross-multiplication at t = 2/25
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        out = eo.t_closeness_report(ev_df, t=_TCLOSE_T)
        return out.select(
            "activity_bucket", "n_users", "tvd", "at_risk"
        )

    def session_abandonment(spark, sf):
        # gaps-and-islands sessions with no click/purchase = abandoned
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        out = eo.session_abandonment(ev_df)
        return out.select(
            "n_sessions", "n_converted", "n_abandoned",
            F.round("abandonment_rate", 4).alias("abandonment_rate"),
        )

    def inf_ap(spark, sf):
        # inferred AP over a mix-parity 50% judgment sample
        from luc4ir_spark.functions import hashing as hx

        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf).withColumn(
            "docid", F.col("doc_id").cast("string")
        )
        qids = spark.createDataFrame(
            [(qid,) for qid, _ in QUERY_SET], "qid string"
        ).withColumn("qn", F.substring("qid", 2, 10).cast("long"))
        sampled = (
            _docs(spark, sf)
            .select("doc_id")
            .crossJoin(qids)
            .filter((F.col("doc_id") + F.col("qn")) % 3 == 0)
            .filter(
                F.pmod(
                    hx.mix_id_expr(F.col("doc_id") + F.col("qn")),
                    F.lit(2),
                )
                == 0
            )
            .select(
                "qid",
                F.col("doc_id").cast("string").alias("docid"),
                F.when(
                    (F.col("doc_id") + F.col("qn")) % 6 == 0, F.lit(1.0)
                ).otherwise(F.lit(0.0)).alias("rel"),
            )
        )
        out = ev.inferred_ap(run, sampled, eps=_INFAP_EPS)
        return out.select(
            "qid", "r_sampled", "n_sampled_ret",
            F.round("inf_ap", 4).alias("inf_ap"),
        )

    def query_relaxation(spark, sf):
        # AND -> msm ladder -> OR fallback, all levels from ONE scan
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        out = rt.query_relaxation_report(
            idx, qt, min_hits=_RELAX_MIN
        )
        return out.select("qid", "n_terms", "msm", "level", "n_hits")

    def hard_negatives(spark, sf):
        # DPR-style BM25 hard-negative mining: retrieved positives ×
        # top non-relevant docs
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf).withColumn(
            "docid", F.col("doc_id").cast("string")
        )
        out = rt.mine_hard_negatives(
            run, _pseudo_qrels(spark, sf), n_neg=_HNM_NEG
        )
        return out.select("qid", "pos_id", "neg_id", "neg_rank")

    def trigram_lm_xent(spark, sf):
        # interpolated trigram corpus-LM cross-entropy per doc
        out = ts.trigram_cross_entropy(
            _docs(spark, sf), content_col="text",
            lam3=_TRI_L3, lam2=_TRI_L2,
        )
        return out.select("doc_id", "xent_trigram")

    def event_lift(spark, sf):
        # market-basket support/confidence/lift over per-user baskets
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        out = eo.event_lift(ev_df)
        return out.select(
            "type_a", "type_b", "n_ab",
            F.round("support", 4).alias("support"),
            F.round("conf_a_b", 4).alias("conf_a_b"),
            F.round("lift", 4).alias("lift"),
        )

    def funnel_latency(spark, sf):
        # view->purchase time-to-convert summary (µs-exact)
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        out = eo.funnel_latency(ev_df)
        return out.select(
            "n_users", "n_converted",
            F.round("mean_latency_us", 4).alias("mean_latency_us"),
            F.round("median_latency_us", 4).alias("median_latency_us"),
        )

    def term_max_scores(spark, sf):
        # MaxScore/WAND per-term global upper bounds + argmax doc
        idx = _index(spark, sf)
        out = ix.term_max_contrib(idx, topn=_TMAX_TOPN, k1=K1, b=B)
        return out.select("term", "df", "doc_id", "rank", "max_contrib")

    def term_burstiness(spark, sf):
        # Church-Gale burstiness: mean within-doc tf + repeat prob
        idx = _index(spark, sf)
        out = ix.term_burstiness(
            idx, min_df=_BURST_MIN_DF, topn=_BURST_TOPN
        )
        return out.select(
            "term", "df", "cf", "n_repeat", "rank", "mean_tf",
            "p_repeat",
        )

    def index_compact(spark, sf):
        # forceMerge-style dense docid renumbering (shard-major mix
        # order, no global sort)
        out = ix.compact_doc_ids(
            _docs(spark, sf), n_shards=_COMPACT_S
        )
        return out.select("old_id", "new_id", "shard")

    def xquad_rerank(spark, sf):
        # xQuAD diversification: uniform query-term aspects, 3 greedy
        # picks from the BM25 top-5, coverage-discounted gains
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        out = fb.xquad_rerank(
            idx, qt, k_cands=_XQ_CANDS, k_out=_XQ_OUT, lam=_XQ_LAM
        )
        return out.select("qid", "doc_id", "rank", "xquad")

    def pm2_rerank(spark, sf):
        # PM-2 proportionality diversification: Sainte-Laguë seat
        # quotients over uniform query-term aspects, 3 greedy picks
        # from the BM25 top-5
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        out = fb.pm2_rerank(
            idx, qt, k_cands=_PM2_CANDS, k_out=_PM2_OUT, lam=_PM2_LAM
        )
        return out.select("qid", "doc_id", "rank", "pm2")

    def heaps_law(spark, sf):
        # Heaps'-law vocabulary growth at 5 doc-id checkpoints
        out = ts.heaps_law(
            _docs(spark, sf), n_checkpoints=_HEAPS_K, content_col="text"
        )
        return out.select(
            "checkpoint", "max_doc_id", "n_tokens", "vocab",
            F.round("beta", 4).alias("beta"),
        )

    def zipf_law(spark, sf):
        # Zipf rank-frequency law: top-20 cf ranks with the lag-based
        # local exponent (engine-exact — one log division per rank)
        out = ts.zipf_law(
            _docs(spark, sf), top_n=_ZIPF_TOPN, content_col="text"
        )
        return out.select(
            "rank", "term", "cf", F.round("slope", 4).alias("slope")
        )

    def collocations_llr(spark, sf):
        # Dunning LLR bigram collocations, top-20
        out = ts.collocations_llr(
            _docs(spark, sf), topn=_LLR_TOPN, min_count=_LLR_MIN_C,
            content_col="text",
        )
        return out.select("w1", "w2", "c", "rank", "llr")

    def centroid_classify(spark, sf):
        # Rocchio nearest-centroid source classification + confusion
        out = ts.centroid_classify(
            _docs(spark, sf), label_col="source", content_col="text"
        )
        return out.select("true_label", "pred_label", "n_docs")

    def naive_bayes(spark, sf):
        # Lucene SimpleNaiveBayesClassifier parity: add-one
        # multinomial NB, background-decomposed overlap join
        out = ts.naive_bayes_classify(
            _docs(spark, sf), label_col="source", content_col="text"
        )
        return out.select("true_label", "pred_label", "n_docs")

    def knn_classify(spark, sf):
        # Lucene KNearestNeighborClassifier parity: MLT query per
        # test doc, top-k neighbor vote, all-integer tie-breaks
        idx = _index(spark, sf)
        d = _docs(spark, sf)
        labels = d.select("doc_id", F.col("source").alias("label"))
        test = d.filter(F.col("doc_id") % _KNN_EVERY == 0).select(
            "doc_id"
        )
        return rt.knn_classify(
            idx, labels, test, n_terms=_KNN_TERMS, k=_KNN_K
        )

    def length_buckets(spark, sf):
        # power-of-two padding buckets + per-bucket padding efficiency
        out = ts.length_buckets(
            _docs(spark, sf), max_len=_LB_MAX, content_col="text"
        )
        return out.select(
            "bucket_len", "n_docs", "total_tokens", "total_padding",
            F.round("efficiency", 4).alias("efficiency"),
        )

    def length_batches(spark, sf):
        # dynamic batch formation: mix-sharded per-(bucket, shard)
        # windows (no global sort), pad-to-batch-max accounting
        out = ts.length_batches(
            _docs(spark, sf),
            batch_size=_LBATCH_SIZE,
            n_shards=_LBATCH_SHARDS,
            max_len=_LB_MAX,
            content_col="text",
        )
        return out

    def dsir_select(spark, sf):
        # DSIR importance-resampling selection: hashed-unigram
        # target/raw LMs, per-doc log-ratio weight, top-n keep set
        docs = _docs(spark, sf).withColumn(
            "is_target", F.col("source") == _DSIR_TARGET
        )
        return ts.dsir_select(
            docs,
            n_buckets=_DSIR_B,
            alpha=_DSIR_ALPHA,
            topn=_DSIR_TOPN,
            content_col="text",
        )

    def quality_filter(spark, sf):
        return ts.quality_filter(_docs(spark, sf), content_col="text")

    def hygiene_funnel(spark, sf):
        # the batch hygiene cascade in one report: raw -> exact-dedup
        # representatives -> C4/Gopher quality keepers -> CCNet LM
        # keepers (each stage composes the already-gated operator)
        docs = _docs(spark, sf)
        idx = _index(spark, sf)
        reps = (
            docs.groupBy(F.md5("text").alias("dg"))
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        q = (
            ts.quality_filter(docs, content_col="text")
            .filter("keep")
            .select("doc_id")
        )
        s3 = reps.join(q, "doc_id", "left_semi").localCheckpoint(
            eager=False
        )
        lm = ix.lm_quality_filter(idx, max_xent=3.41).select("doc_id")
        s4 = s3.join(lm, "doc_id", "left_semi")

        def stage(i, name, rel):
            return rel.agg(
                F.count(F.lit(1)).cast("long").alias("n_docs")
            ).select(
                F.lit(i).cast("long").alias("stage"),
                F.lit(name).alias("name"),
                "n_docs",
            )

        return (
            stage(1, "raw", docs)
            .unionByName(stage(2, "exact_dedup", reps))
            .unionByName(stage(3, "quality", s3))
            .unionByName(stage(4, "lm_xent", s4))
        )

    def sample_stratified(spark, sf):
        from luc4ir_spark.operators import utilsops as uo

        return uo.sample_hash_stratified(
            _docs(spark, sf),
            rates=_SAMPLE_RATES,
            stratum_col="lang",
            seed=_SAMPLE_SEED,
            default_rate=_SAMPLE_DEFAULT,
            resolution=_SAMPLE_RES,
        ).select("doc_id", "lang")

    def weighted_sample(spark, sf):
        # Efraimidis-Spirakis A-ES: top-25 by u^(1/n_chars), u from
        # the portable mix hash
        from luc4ir_spark.operators import utilsops as uo

        return uo.sample_weighted(
            _docs(spark, sf), n=25, weight_col="n_chars",
            seed=_SAMPLE_SEED,
        ).select("doc_id", "weight", "key", "rank")

    def assign_splits(spark, sf):
        # deterministic train/val/test assignment by mix-hash bucket
        from luc4ir_spark.operators import utilsops as uo

        return uo.assign_splits(
            _docs(spark, sf).select("doc_id"),
            val_frac=0.1, test_frac=0.1,
            seed=_SAMPLE_SEED, resolution=_SAMPLE_RES,
        ).select("doc_id", "split")

    def temperature_mix(spark, sf):
        # alpha=1/2 temperature mixture sampling; integer-exact
        # isqrt-based thresholds + the mix-hash Bernoulli
        from luc4ir_spark.operators import utilsops as uo

        return uo.sample_temperature_mix(
            _docs(spark, sf),
            budget_tokens=_TEMP_BUDGET,
            stratum_col="source",
            content_col="text",
            seed=_SAMPLE_SEED,
            resolution=_SAMPLE_RES,
        ).select("doc_id", "source")

    def corpus_composition(spark, sf):
        return ts.corpus_composition(
            _docs(spark, sf), content_col="text", stratum_col="source"
        )

    def chunk_documents(spark, sf):
        return ts.chunk_documents(
            _docs(spark, sf),
            content_col="text",
            chunk_tokens=_CHUNK_TOKENS,
            overlap=_CHUNK_OVERLAP,
        )

    def doc_fingerprint(spark, sf):
        return ts.doc_fingerprint(_docs(spark, sf), content_col="text")

    def dedup_lines(spark, sf):
        # line-level boilerplate dedup over a derived multi-line corpus
        # (the synthetic docs have no newlines: turn every 'value'
        # token into one, deterministically on both engines)
        d = _docs(spark, sf).select(
            "doc_id",
            F.replace(
                F.col("text"), F.lit("value"), F.lit("\n")
            ).alias("text"),
        )
        return dd.dedup_lines(d, content_col="text", min_docs=2)

    def warc(spark, sf):
        # ISO 28500 WARC record extraction over per-source synthesized
        # CRLF blobs (Common Crawl's container format): version-line
        # split + header regexes + payload capture
        d = _docs(spark, sf)
        crlf = "\r\n"
        rec = F.concat(
            F.lit(
                "WARC/1.0" + crlf + "WARC-Type: response" + crlf
                + "WARC-Target-URI: https://h"
            ),
            (F.col("doc_id") % 10).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
            F.lit(crlf + "Content-Length: "),
            F.col("n_chars").cast("string"),
            F.lit(crlf + crlf),
            F.substring(F.col("text"), 1, 20),
        )
        blobs = d.groupBy(F.col("source").alias("file_id")).agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("doc_id"), rec.alias("p"))
                        )
                    ),
                    lambda s: s["p"],
                ),
                "",
            ).alias("warc")
        )
        return ts.warc_extract(blobs, content_col="warc")

    def host_gini(spark, sf):
        # crawl-concentration Gini over the normalized hosts, doc
        # counts weighted by nothing (pure counts) — integer-exact
        from luc4ir_spark.operators import textstats as ts2

        d = _docs(spark, sf)
        hosts = ts2.normalize_urls(
            d.select("doc_id", _pseudo_url_expr().alias("url")),
            url_col="url",
        ).select("host")
        return ts2.group_gini(hosts, "host")

    def sitemap(spark, sf):
        # sitemaps.org <loc>/<lastmod> extraction over per-source
        # synthesized sitemap XML (deterministic doc_id-ordered concat
        # on both engines); regex projection, no XML parser
        d = _docs(spark, sf)
        url = F.concat(
            F.lit("https://h"),
            (F.col("doc_id") % 10).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
        )
        lastmod = F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("<lastmod>2026-01-"),
                F.lpad(((F.col("doc_id") % 28) + 1).cast("string"), 2, "0"),
                F.lit("</lastmod>"),
            ),
        ).otherwise(F.lit(""))
        piece = F.concat(
            F.lit("<url><loc>"), url, F.lit("</loc>"), lastmod,
            F.lit("</url>"),
        )
        sm = d.groupBy(F.col("source").alias("sitemap_id")).agg(
            F.concat(
                F.lit("<urlset>"),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("doc_id"), piece.alias("p")
                                )
                            )
                        ),
                        lambda s: s["p"],
                    ),
                    "",
                ),
                F.lit("</urlset>"),
            ).alias("xml")
        )
        return ts.sitemap_extract(sm)

    def gazetteer(spark, sf):
        # broadcast-lexicon entity annotation: substring mention
        # counts via the length-replace trick + first offsets
        return ts.gazetteer_extract(
            _docs(spark, sf), entities=_GAZ_ENTITIES,
            content_col="text",
        )

    def boilerplate_strip(spark, sf):
        # jusText-lite line classification over the derived multi-line
        # corpus: min tokens + stopword density by integer
        # cross-multiplication, doc rebuilt from kept lines
        d = _docs(spark, sf).select(
            "doc_id",
            F.replace(
                F.col("text"), F.lit("value"), F.lit("\n")
            ).alias("text"),
        )
        return ts.boilerplate_strip(
            d,
            stop_terms=_BP_STOPS,
            min_tokens=3,
            min_stop_frac=_BP_FRAC,
            content_col="text",
        )

    def maxsim(spark, sf):
        # ColBERT late-interaction MaxSim: embeddings grouped 8 token
        # vectors per pseudo-doc; queries = tokens 0-1 of every 25th
        # group; exact all-pairs path, broadcast query side
        emb = _emb(spark, sf)
        dt = emb.select(
            F.expr("vec_id DIV 8").cast("long").alias("group_id"),
            F.col("embedding").alias("vec"),
        )
        qt = emb.filter(
            (F.expr("vec_id DIV 8") % 25 == 0)
            & (F.col("vec_id") % 8 <= 1)
        ).select(
            F.concat(
                F.lit("m"), F.expr("vec_id DIV 8").cast("string")
            ).alias("qid"),
            (F.col("vec_id") % 8).cast("long").alias("tok_id"),
            F.col("embedding").alias("vec"),
        )
        return ann.maxsim_topk(qt, dt, k=5)

    def embedding_near_dups(spark, sf):
        # embedding-cosine near-dup pairs, brute-force verification path
        # (training-pipeline dedup modality over the embeddings table)
        out = ann.cosine_near_dup_pairs(_emb(spark, sf), threshold=0.4)
        return out.select("a", "b", F.round("cosine", 4).alias("cosine"))

    def embedding_near_dups_lsh(spark, sf):
        # the corpus-scale default: hyperplane-bucket candidates + exact
        # cosine verify (sub-quadratic); seeded plane literals make the
        # SQL oracle exact
        out = ann.lsh_near_dup_pairs(
            _emb(spark, sf), threshold=0.4, n_planes=8
        )
        return out.select("a", "b", F.round("cosine", 4).alias("cosine"))

    def bm25_must_not(spark, sf):
        # BooleanQuery MUST_NOT: same BM25 run, docs containing the
        # excluded term pruned before ranking
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        excl = spark.createDataFrame(
            [(qid, _EXCLUDE_TERM) for qid, _ in QUERY_SET],
            "qid string, term string",
        )
        run = rt.score_queries(idx, qt, k=TOPK, exclude_terms=excl)
        return run.select(
            "qid", "doc_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("score", 4).alias("score"),
        )

    def facet_counts(spark, sf):
        # Lucene-facets parity: per-query per-source hit counts over
        # the BM25 top-k run
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf)
        out = rt.facet_counts(run, _docs(spark, sf), facet_col="source")
        return out.select("qid", "facet", "n_docs")

    def drill_sideways(spark, sf):
        # Lucene DrillSideways parity: drilled on source=src1 AND
        # lang=en; each dimension's counts drop its own filter
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf)
        out = rt.drill_sideways(run, _docs(spark, sf), _DRILL)
        return out.select("qid", "dim", "value", "n_docs")

    def proximity_query(spark, sf):
        # ordered within-window proximity (#odN family): the phrase
        # terms with slack — a strict superset of the exact phrase hits
        toks = ix.tokenize(
            _docs(spark, sf), SIMPLE, id_col="doc_id", content_col="text"
        )
        pos = ix.build_positional_postings(toks)
        return rt.proximity_query(
            pos, _PHRASE, window=_PROX_WINDOW
        ).select("doc_id", "prox_freq")

    def unordered_window(spark, sf):
        # unordered co-occurrence window (#uwN family): same terms as
        # the ordered gate — every anchor set is a superset
        toks = ix.tokenize(
            _docs(spark, sf), SIMPLE, id_col="doc_id", content_col="text"
        )
        pos = ix.build_positional_postings(toks)
        return rt.unordered_window_query(
            pos, _PHRASE, window=_PROX_WINDOW
        ).select("doc_id", "uw_freq")

    def spell_ngram(spark, sf):
        # char-bigram spell candidate generation + exact levenshtein
        # verify (Lucene SpellChecker's indexed-candidates half)
        idx = _index(spark, sf)
        qt = spark.createDataFrame(
            _SPELL_NGRAM_QUERIES, "qid string, term string"
        )
        return rt.spell_candidates_ngram(
            idx, qt, min_shared=2, max_edits=2
        )

    def fuzzy_query(spark, sf):
        # FuzzyQuery parity: misspelled queries reach the postings via
        # Levenshtein expansion over the vocabulary, 1/(1+d) weights
        idx = _index(spark, sf)
        raw = spark.createDataFrame(
            [
                (qid, t)
                for qid, text in _FUZZY_QUERIES
                for t in text.lower().split()
            ],
            "qid string, term string",
        )
        expanded = rt.fuzzy_expand_terms(
            idx, raw, max_edits=_FUZZY_MAX_EDITS
        )
        run = rt.score_queries(idx, expanded, k=TOPK)
        return run.select(
            "qid", "doc_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("score", 4).alias("score"),
        )

    def grouped_results(spark, sf):
        # grouping-module parity: top-2 hits per source per query
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf)
        out = rt.grouped_topk(
            run, _docs(spark, sf), group_col="source", k_per_group=2
        )
        return out.select("qid", "group", "doc_id", "rank", "group_rank")

    def hygiene_streamed(spark, sf):
        # the STREAMING ingest-hygiene pipeline end-to-end: wave 1 is
        # the PII-augmented corpus; wave 2 re-delivers two duplicate
        # documents under new ids — the stateful dedup drops both, so
        # the flushed set is exactly the batch quality-keep + scrub of
        # wave 1 (which the oracle replays)
        import shutil
        import tempfile

        from luc4ir_spark.streaming.dedup_stream import (
            start_hygiene_stream,
        )

        base = tempfile.mkdtemp(prefix="luc4ir_hyg_stream_")
        in_dir = os.path.join(base, "in")
        out_dir = os.path.join(base, "out")
        aug = F.concat_ws(
            " ",
            F.col("text"),
            F.concat(
                F.lit("user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
            F.concat(
                F.lit("10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7"),
            ),
            F.concat(
                F.lit("call 555-01"),
                F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
                F.lit("-2345"),
            ),
        )
        docs = _docs(spark, sf).select("doc_id", aug.alias("content"))
        waves = [
            docs,
            docs.filter(F.col("doc_id") < 2).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "content"
            ),
        ]
        for wave in waves:
            wave.write.mode("append").parquet(in_dir)
            q = start_hygiene_stream(spark, in_dir, out_dir)
            q.awaitTermination(300)
        out = spark.read.parquet(os.path.join(out_dir, "kept"))
        sel = out.select("doc_id", "digest", "clean")
        rows = sel.collect()
        res = spark.createDataFrame(rows, sel.schema)
        shutil.rmtree(base, ignore_errors=True)
        return res

    def score_cutoff(spark, sf):
        # dynamic truncation at the largest 4dp-score gap inside the
        # BM25 top-10 (max-gap rule; earliest-rank ties)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf)
        return rt.score_gap_cutoff(run, max_k=TOPK)

    def assessor_kappa(spark, sf):
        # Cohen's kappa between the pseudo assessor and a second
        # assessor with deterministic 20% mix-parity flips —
        # integer-exact marginals, one division per output
        from luc4ir_spark.functions import hashing as hx

        q1 = _pseudo_qrels(spark, sf)
        q2 = (
            q1.withColumn(
                "_qn", F.substring("qid", 2, 10).cast("long")
            )
            .withColumn(
                "_flip",
                F.pmod(
                    hx.mix_id_expr(
                        F.col("docid").cast("long") * F.lit(8)
                        + F.col("_qn")
                    ),
                    F.lit(5),
                )
                == 0,
            )
            .select(
                "qid",
                "docid",
                F.when(F.col("_flip"), F.lit(1.0) - F.col("rel"))
                .otherwise(F.col("rel"))
                .alias("rel"),
            )
        )
        return ev.assessor_agreement(q1, q2)

    def query_difficulty(spark, sf):
        # failure-analysis report (RIA-style): per-query AP joined to
        # pre-retrieval predictors, difficulty tertile by ntile over
        # the ROUNDED ap (hard = bucket 1)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf).withColumn(
            "docid", F.col("doc_id").cast("string")
        )
        qrels = _pseudo_qrels(spark, sf)
        perq = ev.per_query_metrics(
            run, qrels, p_at=5, ndcg_at=10
        ).select("qid", "ap")
        pre = qp.qpp_pre_retrieval(idx, qt).select(
            "qid", "n_terms", "avg_idf"
        )
        from pyspark.sql import Window

        j = perq.join(pre, "qid")
        w = Window.orderBy(
            F.round("ap", 4).asc(), F.col("qid").asc()
        )
        return j.select(
            "qid",
            "n_terms",
            F.round("avg_idf", 4).alias("avg_idf"),
            F.round("ap", 4).alias("ap"),
            F.ntile(3).over(w).cast("long").alias("difficulty_bucket"),
        )

    def run_ttest(spark, sf):
        # paired-t significance between the plain BM25 run and the
        # MUST_NOT run on per-query AP (trec_eval-style comparison)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        qrels = _pseudo_qrels(spark, sf)
        excl = spark.createDataFrame(
            [(qid, _EXCLUDE_TERM) for qid, _ in QUERY_SET],
            "qid string, term string",
        )

        def perq(run):
            return ev.per_query_metrics(
                run.withColumn("docid", F.col("doc_id").cast("string")),
                qrels, p_at=5, ndcg_at=10,
            )

        pa = perq(_base_run(spark, sf))
        pb = perq(
            rt.score_queries(idx, qt, k=TOPK, exclude_terms=excl)
        )
        t = ev.paired_ttest(pa, pb, metric_col="ap")
        return t.select(
            "n",
            F.round("mean_diff", 4).alias("mean_diff"),
            F.round("sd_diff", 4).alias("sd_diff"),
            F.round("t_stat", 4).alias("t_stat"),
        )

    def run_wilcoxon(spark, sf):
        # Wilcoxon signed-rank statistic over the SAME per-query AP
        # pair as run_ttest (plain BM25 vs MUST_NOT run)
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        qrels = _pseudo_qrels(spark, sf)
        excl = spark.createDataFrame(
            [(qid, _EXCLUDE_TERM) for qid, _ in QUERY_SET],
            "qid string, term string",
        )

        def perq(run):
            return ev.per_query_metrics(
                run.withColumn("docid", F.col("doc_id").cast("string")),
                qrels, p_at=5, ndcg_at=10,
            )

        pa = perq(_base_run(spark, sf))
        pb = perq(
            rt.score_queries(idx, qt, k=TOPK, exclude_terms=excl)
        )
        wx = ev.wilcoxon_signed_rank(pa, pb, metric_col="ap")
        return wx.select(
            "n",
            F.round("w_plus", 4).alias("w_plus"),
            F.round("w_minus", 4).alias("w_minus"),
        )

    def run_friedman(spark, sf):
        # Friedman rank test across THREE systems (bm25 / classic /
        # lmdir) on per-query AP — 4dp-rounded metrics, ascending
        # average ranks, tie-uncorrected chi^2_F
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        qrels = _pseudo_qrels(spark, sf)

        def perq(run):
            return ev.per_query_metrics(
                run.withColumn("docid", F.col("doc_id").cast("string")),
                qrels, p_at=5, ndcg_at=10,
            )

        runs = [
            ("bm25", perq(_base_run(spark, sf))),
            ("classic", perq(rt.score_queries(
                idx, qt, k=TOPK,
                sim=rt.Similarity(kind="classic", mu=MU, lam=LAM),
            ))),
            ("lmdir", perq(rt.score_queries(
                idx, qt, k=TOPK,
                sim=rt.Similarity(kind="lmdir", mu=MU, lam=LAM),
            ))),
        ]
        fr = ev.friedman_test(runs, metric_col="ap")
        return fr.select(
            "system",
            "n_queries",
            F.round("rank_sum", 4).alias("rank_sum"),
            F.round("mean_rank", 4).alias("mean_rank"),
            F.round("chi2_f", 4).alias("chi2_f"),
        )

    def click_model_pbm(spark, sf):
        # PBM click-model EM (2 rounds) over the deterministic
        # impression log derived from events; examination propensity
        # per position
        from luc4ir_spark.functions.hashing import mix_id_expr

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        imp = ev_df.select(
            F.concat(
                F.lit("q"),
                (F.col("user_id") % _PBM_Q).cast("string"),
            ).alias("qid"),
            (F.col("event_id") % _PBM_D).alias("doc_id"),
            (
                F.pmod(mix_id_expr(F.col("event_id")), F.lit(_PBM_POS))
                + 1
            ).alias("pos"),
            (F.col("event_type") == "click").alias("clicked"),
        )
        gamma, _rel = ev.pbm_click_model(imp, n_iter=_PBM_ITERS)
        return gamma.select(
            "pos", "n_impressions", "n_clicks",
            F.round("gamma", 4).alias("gamma"),
        )

    def swap_propensity(spark, sf):
        # result-randomization propensity ratios over the SAME
        # position-random impression log as the PBM gate — the
        # assumption-free calibration of the EM estimate
        from luc4ir_spark.functions.hashing import mix_id_expr

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        imp = ev_df.select(
            (
                F.pmod(mix_id_expr(F.col("event_id")), F.lit(_PBM_POS))
                + 1
            ).alias("pos"),
            (F.col("event_type") == "click").alias("clicked"),
        )
        return ev.randomization_propensity(imp)

    def click_model_cascade(spark, sf):
        # cascade click model (Craswell WSDM'08), closed-form MLE:
        # SERPs of 8 contiguous events, examined = at-or-above the
        # first click; attractiveness = clicks / examinations
        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        imp = ev_df.select(
            F.expr("event_id DIV 8").alias("serp_id"),
            ((F.col("event_id") % 8) + 1).alias("pos"),
            (F.col("event_id") % _PBM_D).cast("long").alias("doc_id"),
            (F.col("event_type") == "click").alias("clicked"),
        )
        return ev.cascade_click_model(imp)

    def snippets(spark, sf):
        # simplified highlighter: window around the earliest query-term
        # occurrence in each BM25 hit
        idx = _index(spark, sf)
        qt = rt.queries_to_terms(spark, QUERY_SET, SIMPLE)
        run = _base_run(spark, sf)
        out = rt.make_snippets(
            run, _docs(spark, sf), qt, width=30, content_col="text"
        )
        return out.select("qid", "doc_id", "snip_start", "snippet")

    def phrase_compressed(spark, sf):
        # same phrase semantics over the COMPRESSED positional index:
        # prune candidates on the spine, decode only survivors
        toks = ix.tokenize(
            _docs(spark, sf), SIMPLE, id_col="doc_id", content_col="text"
        )
        cpos = ix.compress_positional_postings(
            ix.build_positional_postings(toks)
        )
        return rt.phrase_query_compressed(cpos, _PHRASE).select(
            "doc_id", "phrase_freq"
        )

    def span_first(spark, sf):
        # SpanFirstQuery: the term within the first N positions
        toks = ix.tokenize(
            _docs(spark, sf), SIMPLE, id_col="doc_id", content_col="text"
        )
        pos = ix.build_positional_postings(toks)
        return rt.span_first_query(
            pos, _SPAN_FIRST_TERM, _SPAN_FIRST_END
        ).select("doc_id", "first_freq")

    def multi_phrase(spark, sf):
        # MultiPhraseQuery: per-position alternatives
        toks = ix.tokenize(
            _docs(spark, sf), SIMPLE, id_col="doc_id", content_col="text"
        )
        pos = ix.build_positional_postings(toks)
        return rt.multi_phrase_query(pos, _MULTI_PHRASE).select(
            "doc_id", "phrase_freq"
        )

    def match_phrase_prefix(spark, sf):
        # MatchPhrasePrefixQuery: "fast s*" — last position expanded
        # to the first 4 dictionary terms with the prefix (term ASC)
        toks = ix.tokenize(
            _docs(spark, sf), SIMPLE, id_col="doc_id", content_col="text"
        )
        pos = ix.build_positional_postings(toks)
        return rt.match_phrase_prefix_query(
            pos, _MPP_TERMS, _MPP_PREFIX, max_expansions=_MPP_MAXEXP
        ).select("doc_id", "phrase_freq")

    def char_entropy(spark, sf):
        # fixed-alphabet Shannon entropy quality signal
        out = ts.char_entropy(_docs(spark, sf), content_col="text")
        return out.select(
            "doc_id",
            "n_chars_total",
            F.round("entropy", 4).alias("entropy"),
        )

    def phrase_query(spark, sf):
        # exact phrase match over the positional index (PhraseQuery
        # slop-0 parity): docs containing "slow hash batch" verbatim
        toks = ix.tokenize(
            _docs(spark, sf), SIMPLE, id_col="doc_id", content_col="text"
        )
        pos = ix.build_positional_postings(toks)
        return rt.phrase_query(pos, _PHRASE).select(
            "doc_id", "phrase_freq"
        )

    def simple_query_string(spark, sf):
        # Lucene SimpleQueryParser end-to-end: AND-of-items with OR
        # groups, prefixes, phrases, negation; BM25 over matched terms
        idx = _index(spark, sf)
        toks = ix.tokenize(
            _docs(spark, sf), SIMPLE, id_col="doc_id", content_col="text"
        )
        pos = ix.build_positional_postings(toks)
        out = rt.simple_query_string(
            idx, pos, _SQS_QUERIES, k=TOPK, cfg=SIMPLE
        )
        return out.select(
            "qid", "doc_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("score", 4).alias("score"),
        )

    def sdm_topk(spark, sf):
        # Metzler-Croft sequential dependence model: unigram + #od1 +
        # #uw8 Dirichlet features over the positional index
        idx = _index(spark, sf)
        toks = ix.tokenize(
            _docs(spark, sf), SIMPLE, id_col="doc_id", content_col="text"
        )
        pos = ix.build_positional_postings(toks)
        run = rt.sdm_topk(
            idx, pos, QUERY_SET, k=TOPK, uw_window=_SDM_UW, cfg=SIMPLE
        )
        return run.select(
            "qid", "doc_id", "rank", F.round("score", 4).alias("score")
        )

    def similar_docs(spark, sf):
        # related-documents batch join: tf-idf cosine top-3 for docs 0-4
        idx = _index(spark, sf)
        out = rt.similar_docs_topk(
            idx, k=3, query_doc_ids=[0, 1, 2, 3, 4]
        )
        return out.select(
            "a", "b", "rank", F.round("cosine", 4).alias("cosine")
        )

    def classifier_score(spark, sf):
        # fastText-style linear classifier inference, model-as-data:
        # weights derived from the index's own vocabulary by the
        # portable md5 projection so the oracle replays them exactly
        idx = _index(spark, sf)
        sid = F.conv(F.substring(F.md5("term"), 1, 15), 16, 10).cast(
            "long"
        )
        wts = idx.term_stats.select(
            "term",
            (F.pmod(sid, F.lit(2001)) - 1000).cast("double").alias(
                "weight"
            ),
        )
        out = ts.classifier_score(
            _docs(spark, sf), wts, bias=0.0, threshold=0.5,
            content_col="text",
        )
        return out.select(
            "doc_id",
            F.round("logit", 4).alias("logit"),
            F.round("score", 4).alias("score"),
            "keep",
        )

    def classifier_eval(spark, sf):
        # held-out evaluation of the linear classifier: labels = mix
        # parity of doc_id (engine-portable), confusion + exact
        # rank-sum AUC with integer mid-ranks
        from luc4ir_spark.functions import hashing as hx

        idx = _index(spark, sf)
        sid = F.conv(F.substring(F.md5("term"), 1, 15), 16, 10).cast(
            "long"
        )
        wts = idx.term_stats.select(
            "term",
            (F.pmod(sid, F.lit(2001)) - 1000).cast("double").alias(
                "weight"
            ),
        )
        preds = ts.classifier_score(
            _docs(spark, sf), wts, bias=0.0, threshold=0.5,
            content_col="text",
        )
        labels = _docs(spark, sf).select(
            "doc_id",
            F.pmod(hx.mix_id_expr("doc_id"), F.lit(2)).cast("int").alias(
                "label"
            ),
        )
        out = ts.classifier_eval(preds, labels)
        return out.select(
            "n", "n_pos", "n_neg", "tp", "fp", "fn", "tn",
            F.round("precision", 4).alias("precision"),
            F.round("recall", 4).alias("recall"),
            F.round("f1", 4).alias("f1"),
            F.round("auc", 4).alias("auc"),
        )

    def mcnemar(spark, sf):
        # McNemar's paired test between TWO md5-weight linear
        # classifiers (weight grids 2001 and 1003) on the mix-parity
        # labels: integer 2x2 cells, continuity-corrected chi2 (one
        # division), exact doubled-tail binomial p over discordants
        from luc4ir_spark.functions import hashing as hx

        idx = _index(spark, sf)
        sid = F.conv(F.substring(F.md5("term"), 1, 15), 16, 10).cast(
            "long"
        )
        wa = idx.term_stats.select(
            "term",
            (F.pmod(sid, F.lit(2001)) - 1000).cast("double").alias(
                "weight"
            ),
        )
        wb = idx.term_stats.select(
            "term",
            (F.pmod(sid, F.lit(1003)) - 501).cast("double").alias(
                "weight"
            ),
        )
        d = _docs(spark, sf)
        pa = ts.classifier_score(
            d, wa, bias=0.0, threshold=0.5, content_col="text"
        ).select("doc_id", F.col("keep").alias("_ka"))
        pb = ts.classifier_score(
            d, wb, bias=0.0, threshold=0.5, content_col="text"
        ).select("doc_id", F.col("keep").alias("_kb"))
        labels = d.select(
            "doc_id",
            (F.pmod(hx.mix_id_expr("doc_id"), F.lit(2)) == 1).alias(
                "_y"
            ),
        )
        pairs = (
            pa.join(pb, "doc_id")
            .join(labels, "doc_id")
            .select(
                (F.col("_ka") == F.col("_y")).alias("correct_a"),
                (F.col("_kb") == F.col("_y")).alias("correct_b"),
            )
        )
        out = ev.mcnemar_test(pairs)
        return out.select(
            "n", "n_both", "n_neither", "n_a_only", "n_b_only",
            "chi2_cc",
            F.round("p_value", 4).alias("p_value"),
        )

    def classifier_calibration(spark, sf):
        # reliability-diagram bins over the md5-weight classifier's
        # sigmoid scores vs the mix-parity labels
        from luc4ir_spark.functions import hashing as hx

        idx = _index(spark, sf)
        sid = F.conv(F.substring(F.md5("term"), 1, 15), 16, 10).cast(
            "long"
        )
        wts = idx.term_stats.select(
            "term",
            (F.pmod(sid, F.lit(2001)) - 1000).cast("double").alias(
                "weight"
            ),
        )
        preds = ts.classifier_score(
            _docs(spark, sf), wts, bias=0.0, threshold=0.5,
            content_col="text",
        )
        labels = _docs(spark, sf).select(
            "doc_id",
            F.pmod(hx.mix_id_expr("doc_id"), F.lit(2)).cast("int").alias(
                "label"
            ),
        )
        out = ev.calibration_bins(
            preds.join(labels, "doc_id"), n_bins=10
        )
        return out.select(
            "bin", "n", "n_pos",
            F.round("mean_score", 4).alias("mean_score"),
            F.round("pos_rate", 4).alias("pos_rate"),
        )

    def duplicate_spans(spark, sf):
        # C4/Lee-et-al. span dedup: globally repeated fixed-token spans
        # with occurrence mass and first-occurrence keeper
        out = dd.duplicate_spans(
            _docs(spark, sf), span_tokens=_SPAN_TOKENS, content_col="text"
        )
        return out.select(
            "span_id", "n_occ", "keep_doc_id", "keep_chunk_idx"
        )

    def semantic_dedup(spark, sf):
        # SemDeDup-style: literal-centroid assignment (zero-shuffle
        # codegen projection) + within-cluster near-dup drop; kept rows
        out = ann.semantic_dedup(
            _emb(spark, sf),
            threshold=_SEMDEDUP_THRESHOLD,
            n_clusters=_SEMDEDUP_K,
            max_cluster_size=_SEMDEDUP_MAX_CLUSTER,
        )
        return out.select("vec_id", "cluster_id")

    def source_cap_sample(spark, sf):
        # per-source hard cap (the crawl-pipeline per-domain cap):
        # smallest-mix-hash `cap` docs per source, WindowGroupLimit plan
        out = ut.sample_stratum_cap(
            _docs(spark, sf), cap=_SOURCE_CAP,
            stratum_col="source", seed=_SOURCE_CAP_SEED,
        )
        return out.select("doc_id", "source")

    def embedding_norms(spark, sf):
        emb = ann.with_norm(_emb(spark, sf))
        return emb.select("vec_id", F.round("norm", 4).alias("norm"))

    def event_window_stats(spark, sf):
        # tumbling event-time windows over the events log (the batch
        # twin of the streaming windowed-agg operator)
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        out = eo.tumbling_window_stats(ev_df, window="1 hour")
        return out.select(
            # NTZ window start compared as its canonical string form
            # (timezone-free; ANSI forbids NTZ -> numeric casts)
            F.col("window_start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            F.round("sum_value", 4).alias("sum_value"),
            F.round("avg_value", 4).alias("avg_value"),
        )

    def event_window_hopping(spark, sf):
        # hopping windows (1h width / 30min slide): every event lands
        # in exactly two overlapping windows
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        out = eo.hopping_window_stats(
            ev_df, window="1 hour", slide="30 minutes"
        )
        return out.select(
            F.col("window_start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            F.round("sum_value", 4).alias("sum_value"),
        )

    def event_sessionize(spark, sf):
        # gaps-and-islands sessionization per user (30-min gap)
        from luc4ir_spark.operators import eventops as eo

        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        out = eo.sessionize(ev_df, gap_seconds=1800.0)
        return out.select(
            "user_id",
            "session_id",
            "n_events",
            "start_us",
            "end_us",
            F.round("sum_value", 4).alias("sum_value"),
        )

    def event_sessionize_streamed(spark, sf):
        # the STREAMING sessionizer, end-to-end and deterministic: the
        # full events table lands as wave 1 plus a far-future sentinel
        # event (user -1, 2030-01-01); wave 2 is a second sentinel for
        # the SAME user (2030-02-01) whose >gap arrival closes the
        # first sentinel session and whose watermark advance flushes
        # every real session via event-time timeout. The flushed set is
        # therefore exactly batch-sessionize(events + sentinel 1): all
        # real sessions plus the first sentinel's single-event session;
        # only the second sentinel's still-open session is withheld.
        # The oracle replays that with the batch SQL over
        # events UNION ALL the first sentinel literal.
        import tempfile
        from datetime import datetime

        from luc4ir_spark.streaming.event_stream import (
            start_sessionize_stream,
        )

        base = tempfile.mkdtemp(prefix="luc4ir_sess_stream_")
        in_dir = os.path.join(base, "in")
        out_dir = os.path.join(base, "out")
        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        schema = (
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string"
        )
        sent = [
            (10**9, datetime(2030, 1, 1), -1, "sentinel", 0.0, ""),
            (10**9 + 1, datetime(2030, 2, 1), -1, "sentinel", 0.0, ""),
        ]
        waves = [
            ev_df.unionByName(spark.createDataFrame(sent[:1], schema)),
            spark.createDataFrame(sent[1:], schema),
        ]
        for wave in waves:
            wave.write.mode("append").parquet(in_dir)
            q = start_sessionize_stream(
                spark, in_dir, out_dir,
                gap_seconds=1800.0, schema=schema,
            )
            q.awaitTermination(300)
        out = spark.read.parquet(os.path.join(out_dir, "sessions"))
        sel = out.select(
            "user_id",
            "session_id",
            "n_events",
            "start_us",
            "end_us",
            F.round("sum_value", 4).alias("sum_value"),
        )
        # materialize (small: one row per session) so the temp streaming
        # dirs can be removed before returning the lazy handle
        rows = sel.collect()
        res = spark.createDataFrame(rows, sel.schema)
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        return res

    def dedup_streamed(spark, sf):
        # the STREAMING exact dedup end-to-end: wave 1 = the corpus,
        # wave 2 re-delivers docs 0/1 under shifted ids (state-dropped
        # as seen digests). WHICH doc survives an in-wave duplicate
        # class is metadata (identical content), so the gate compares
        # the kept DIGEST set — deterministic and equal to the distinct
        # digests of the corpus, which the oracle replays
        import shutil
        import tempfile

        from luc4ir_spark.streaming.dedup_stream import (
            start_dedup_stream,
        )

        base = tempfile.mkdtemp(prefix="luc4ir_dedup_stream_")
        in_dir = os.path.join(base, "in")
        out_dir = os.path.join(base, "out")
        docs = _docs(spark, sf).select(
            "doc_id", F.col("text").alias("content")
        )
        waves = [
            docs,
            docs.filter(F.col("doc_id") < 2).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "content"
            ),
        ]
        for wave in waves:
            wave.write.mode("append").parquet(in_dir)
            q = start_dedup_stream(spark, in_dir, out_dir)
            q.awaitTermination(300)
        out = (
            spark.read.parquet(os.path.join(out_dir, "kept"))
            .select("digest")
            .distinct()
        )
        rows = out.collect()
        res = spark.createDataFrame(rows, out.schema)
        shutil.rmtree(base, ignore_errors=True)
        return res

    def event_window_streamed(spark, sf):
        # the STREAMING tumbling-window aggregator end-to-end: wave 1 =
        # events + a far-future sentinel (2030-01-01), wave 2 = a
        # second sentinel (2030-02-01) whose watermark advance closes
        # every earlier window (incl. sentinel 1's); only sentinel 2's
        # own still-open window is withheld, so the flushed set equals
        # the batch tumbling stats over events + sentinel 1 — which the
        # oracle replays
        import shutil
        import tempfile
        from datetime import datetime

        from luc4ir_spark.streaming.event_stream import (
            start_windowed_event_counts,
        )

        base = tempfile.mkdtemp(prefix="luc4ir_win_stream_")
        in_dir = os.path.join(base, "in")
        out_dir = os.path.join(base, "out")
        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        schema = (
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string"
        )
        sent = [
            (10**9, datetime(2030, 1, 1), -1, "sentinel", 0.0, ""),
            (10**9 + 1, datetime(2030, 2, 1), -1, "sentinel", 0.0, ""),
        ]
        waves = [
            ev_df.unionByName(spark.createDataFrame(sent[:1], schema)),
            spark.createDataFrame(sent[1:], schema),
        ]
        for wave in waves:
            wave.write.mode("append").parquet(in_dir)
            q = start_windowed_event_counts(
                spark, in_dir, out_dir, window="1 hour",
                watermark="2 hours", schema=schema,
            )
            q.awaitTermination(300)
        out = spark.read.parquet(os.path.join(out_dir, "windows"))
        sel = out.select(
            F.col("window_start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            F.round("sum_value", 4).alias("sum_value"),
        )
        rows = sel.collect()
        res = spark.createDataFrame(rows, sel.schema)
        shutil.rmtree(base, ignore_errors=True)
        return res

    def enrich_streamed(spark, sf):
        # the stream-STATIC join class end-to-end: events enriched
        # against a broadcast user→cohort dimension (cohort = mix
        # parity; the sentinel user is dim-absent → '(unknown)'),
        # then watermarked tumbling counts; same two-sentinel flush
        # discipline, so the batch replay over events + sentinel 1
        # oracles the stream
        import shutil
        import tempfile
        from datetime import datetime

        from luc4ir_spark.functions.hashing import mix_id_expr
        from luc4ir_spark.streaming.event_stream import (
            start_enriched_window_counts,
        )

        base = tempfile.mkdtemp(prefix="luc4ir_enrich_stream_")
        in_dir = os.path.join(base, "in")
        out_dir = os.path.join(base, "out")
        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        dim = (
            ev_df.select("user_id")
            .distinct()
            .select(
                "user_id",
                F.concat(
                    F.lit("c"),
                    F.pmod(mix_id_expr("user_id"), F.lit(3)).cast(
                        "string"
                    ),
                ).alias("cohort"),
            )
        )
        schema = (
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string"
        )
        sent = [
            (10**9, datetime(2030, 1, 1), -1, "sentinel", 0.0, ""),
            (10**9 + 1, datetime(2030, 2, 1), -1, "sentinel", 0.0, ""),
        ]
        waves = [
            ev_df.unionByName(spark.createDataFrame(sent[:1], schema)),
            spark.createDataFrame(sent[1:], schema),
        ]
        for wave in waves:
            wave.write.mode("append").parquet(in_dir)
            q = start_enriched_window_counts(
                spark, in_dir, out_dir, dim, window="1 hour",
                watermark="2 hours", schema=schema,
            )
            q.awaitTermination(300)
        out = spark.read.parquet(os.path.join(out_dir, "windows"))
        sel = out.select(
            F.col("window_start").cast("string").alias("window_start"),
            "cohort",
            "n_events",
            F.round("sum_value", 4).alias("sum_value"),
        )
        rows = sel.collect()
        res = spark.createDataFrame(rows, sel.schema)
        shutil.rmtree(base, ignore_errors=True)
        return res

    def event_distinct_streamed(spark, sf):
        # STREAMING windowed distinct-user counts, same two-sentinel
        # flush discipline as event_window_streamed; the distinct set
        # is exact (collect_set size), so the batch oracle replays it
        import shutil
        import tempfile
        from datetime import datetime

        from luc4ir_spark.streaming.event_stream import (
            start_windowed_distinct_users,
        )

        base = tempfile.mkdtemp(prefix="luc4ir_du_stream_")
        in_dir = os.path.join(base, "in")
        out_dir = os.path.join(base, "out")
        ev_df = spark.read.parquet(os.path.join(sf, "events.parquet"))
        schema = (
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string"
        )
        sent = [
            (10**9, datetime(2030, 1, 1), -1, "sentinel", 0.0, ""),
            (10**9 + 1, datetime(2030, 2, 1), -1, "sentinel", 0.0, ""),
        ]
        waves = [
            ev_df.unionByName(spark.createDataFrame(sent[:1], schema)),
            spark.createDataFrame(sent[1:], schema),
        ]
        for wave in waves:
            wave.write.mode("append").parquet(in_dir)
            q = start_windowed_distinct_users(
                spark, in_dir, out_dir, window="1 hour",
                watermark="2 hours", schema=schema,
            )
            q.awaitTermination(300)
        out = spark.read.parquet(os.path.join(out_dir, "windows"))
        sel = out.select(
            F.col("window_start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            "n_users",
        )
        rows = sel.collect()
        res = spark.createDataFrame(rows, sel.schema)
        shutil.rmtree(base, ignore_errors=True)
        return res

    def vit_patches(spark, sf):
        # ViT patch-grid layout over synthesized image metadata
        # (width/height derived from doc_id/n_chars — no pixel decode,
        # the multimodal metadata/plumbing split): all-integer grid
        from luc4ir_spark.operators import multimodal as mm

        imgs = _docs(spark, sf).select(
            F.col("doc_id").alias("image_id"),
            (F.lit(200) + (F.col("doc_id") * 37) % 1000).alias("width"),
            (F.lit(150) + (F.col("n_chars") * 13) % 800).alias(
                "height"
            ),
        )
        return mm.vit_patch_plan(imgs, patch=16, max_patches=2500)

    def frame_sample_plan(spark, sf):
        # multimodal row-expansion plumbing: synthesize a deterministic
        # video table from documents (media bytes = text, duration_ms =
        # n_chars) and emit the sampled frame timeline; the decode stays
        # a stub, the expansion/schedule is oracle-checked
        from luc4ir_spark.operators import multimodal as mm

        media = _docs(spark, sf).select(
            "doc_id",
            F.lit("video").alias("kind"),
            F.encode("text", "utf-8").alias("media"),
            F.struct(
                F.lit("video/x-fake").alias("mime"),
                F.lit(0).alias("width"),
                F.lit(0).alias("height"),
                F.col("n_chars").cast("int").alias("duration_ms"),
                F.lit(0).alias("sample_rate"),
            ).alias("meta"),
        )
        out = mm.sample_frames(media, every_ms=100)
        return out.select("doc_id", "frame_ts_ms")

    def index_merge(spark, sf):
        # segment-merge parity: build the two doc_id-parity halves as
        # independent indexes, merge (pure union + vocab-sized re-agg),
        # and require the merged term stats + additive n_docs to equal
        # the one-shot full build's (the full-corpus oracle)
        docs = _docs(spark, sf)
        cfg = ix.IndexConfig(analyzer=SIMPLE)
        half_a = ix.build_index(
            docs.filter(F.col("doc_id") % 2 == 0), cfg,
            id_col="doc_id", content_col="text", cache=False,
        )
        half_b = ix.build_index(
            docs.filter(F.col("doc_id") % 2 == 1), cfg,
            id_col="doc_id", content_col="text", cache=False,
        )
        merged = ix.merge_indexes(half_a, half_b)
        return merged.term_stats.select("term", "df", "cf").withColumn(
            "n_docs", F.lit(merged.stats.n_docs).cast("long")
        )

    def index_delete(spark, sf):
        # deleteDocuments parity: drop every 7th doc from the shared
        # index handle; stats must equal a fresh build over survivors
        idx = _index(spark, sf)
        ids = _docs(spark, sf).filter(
            F.col("doc_id") % 7 == 0
        ).select("doc_id")
        pruned = ix.delete_docs(idx, ids)
        return pruned.term_stats.select("term", "df", "cf").withColumn(
            "n_docs", F.lit(pruned.stats.n_docs).cast("long")
        )

    def incremental_index_streamed(spark, sf):
        # the LIVE streaming incremental index: two arrival waves of
        # the corpus (doc_id parity halves) foreachBatch-indexed into
        # per-batch partitions; the merged-on-read index must carry
        # the full-corpus term stats (same oracle as index_merge)
        import shutil
        import tempfile

        from luc4ir_spark.streaming.incremental_index import (
            open_incremental_index,
            start_incremental_index,
        )

        base = tempfile.mkdtemp(prefix="luc4ir_inc_idx_")
        in_dir = os.path.join(base, "in")
        idx_dir = os.path.join(base, "idx")
        docs = _docs(spark, sf).select(
            "doc_id", F.col("text").alias("content")
        )
        cfg = ix.IndexConfig(analyzer=SIMPLE)
        for parity in (0, 1):
            docs.filter(F.col("doc_id") % 2 == parity).write.mode(
                "append"
            ).parquet(in_dir)
            q = start_incremental_index(spark, in_dir, idx_dir, cfg)
            q.awaitTermination(300)
        idx = open_incremental_index(spark, idx_dir, cfg)
        sel = idx.term_stats.select("term", "df", "cf").withColumn(
            "n_docs", F.lit(idx.stats.n_docs).cast("long")
        )
        rows = sel.collect()
        res = spark.createDataFrame(rows, sel.schema)
        shutil.rmtree(base, ignore_errors=True)
        return res

    def checkpointed_build(spark, sf):
        # the resumable checkpointed build: build to a manifest'd
        # directory, run a second (no-op, all-stages-skipped) pass to
        # prove resume, reopen, and require full-corpus term stats
        import shutil
        import tempfile

        from luc4ir_spark.plans import checkpoints as cp

        base = tempfile.mkdtemp(prefix="luc4ir_ckpt_idx_")
        docs = _docs(spark, sf).select(
            "doc_id", F.col("text").alias("content")
        )
        cfg = ix.IndexConfig(analyzer=SIMPLE)
        cp.build_index_checkpointed(
            docs, base, cfg, num_slices=4, log=lambda *_: None
        )
        cp.build_index_checkpointed(  # resume: every stage skips
            docs, base, cfg, num_slices=4, log=lambda *_: None
        )
        idx = cp.read_index(spark, base, cfg)
        sel = idx.term_stats.select("term", "df", "cf").withColumn(
            "n_docs", F.lit(idx.stats.n_docs).cast("long")
        )
        rows = sel.collect()
        res = spark.createDataFrame(rows, sel.schema)
        shutil.rmtree(base, ignore_errors=True)
        return res

    def more_like_this(spark, sf):
        # query-by-document: doc 3's top-5 characteristic terms run as
        # a disjunctive BM25 query (Lucene MoreLikeThis parity)
        idx = _index(spark, sf)
        run = rt.more_like_this(
            idx, doc_id=_MLT_DOC, n_terms=_MLT_TERMS, k=TOPK
        )
        return run.select(
            "qid", "doc_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("score", 4).alias("score"),
        )

    def index_to_tsv(spark, sf):
        # reference: retriever/IndexToTsvConverter.java:33-55
        return _docs(spark, sf).select(
            F.col("doc_id"), F.col("text").alias("content")
        )

    def doc_lookup(spark, sf):
        # reference: retriever/DocViewer.java:46-49 — fetch docs by id
        return _docs(spark, sf).filter(
            F.col("doc_id").isin([3, 7, 11])
        ).select("doc_id", "lang", "n_chars")

    return {
        "doc_stats": doc_stats,
        "term_stats": term_stats,
        "tf_postings": tf_postings,
        "collection_stats": collection_stats,
        "idf_dump": idf_dump,
        "lm_cross_entropy": lm_cross_entropy,
        "xent_buckets": xent_buckets,
        "lm_quality_filter": lm_quality_filter,
        "bm25_topk": bm25_topk,
        "pruned_topk": pruned_topk,
        "bm25_conjunctive": bm25_conjunctive,
        "bm25_msm": bm25_msm,
        "covering_query": covering_query,
        "prefix_query": prefix_query,
        "search_after": search_after,
        "boolean_query_parse": boolean_query_parse,
        "filtered_query": filtered_query,
        "bm25f_topk": bm25f_topk,
        "complete_prefix": complete_prefix,
        "infix_suggest": infix_suggest,
        "fuzzy_complete": fuzzy_complete,
        "explain_score": explain_score,
        "bpe_pair_counts": bpe_pair_counts,
        "sp_candidates": sp_candidates,
        "wordpiece_encode": wordpiece_encode,
        "sp_encode_viterbi": sp_encode_viterbi,
        "bpe_merges": bpe_merges,
        "index_upsert": index_upsert,
        "trec_pooling": trec_pooling,
        "run_diff": run_diff,
        "pool_depth_curve": pool_depth_curve,
        "search_length": search_length,
        "rank_correlation": rank_correlation,
        "tau_ap": tau_ap,
        "rank_spearman": rank_spearman,
        "spatial_radius": spatial_radius,
        "spatial_bbox": spatial_bbox,
        "bigram_lm_xent": bigram_lm_xent,
        "stupid_backoff": stupid_backoff,
        "kneser_ney_xent": kneser_ney_xent,
        "witten_bell": witten_bell,
        "good_turing": good_turing,
        "suggest_next": suggest_next,
        "normalize_text": normalize_text,
        "corpus_token_stats": corpus_token_stats,
        "token_budget_sample": token_budget_sample,
        "dismax_topk": dismax_topk,
        "wildcard_query": wildcard_query,
        "term_range_query": term_range_query,
        "extended_metrics": extended_metrics,
        "alpha_ndcg": alpha_ndcg,
        "err_ia": err_ia,
        "iprec_at_recall": iprec_at_recall,
        "r_precision": r_precision,
        "link_pagerank": link_pagerank,
        "link_cocitation": link_cocitation,
        "link_prediction": link_prediction,
        "link_bfs": link_bfs,
        "kcore_peel": kcore_peel,
        "link_degree_stats": link_degree_stats,
        "link_assortativity": link_assortativity,
        "link_modularity": link_modularity,
        "anchor_field": anchor_field,
        "link_triangles": link_triangles,
        "link_hits": link_hits,
        "link_ppr": link_ppr,
        "term_pmi": term_pmi,
        "ppmi_neighbors": ppmi_neighbors,
        "snm_pairs": snm_pairs,
        "asof_last_view": asof_last_view,
        "distinct_sketch": distinct_sketch,
        "kmv_set_ops": kmv_set_ops,
        "selectivity_est": selectivity_est,
        "hll_distinct": hll_distinct,
        "ann_pq_topk": ann_pq_topk,
        "simple_query_string": simple_query_string,
        "countmin_sketch": countmin_sketch,
        "bloom_membership": bloom_membership,
        "event_rollup": event_rollup,
        "docvalues_report": docvalues_report,
        "postings_encoding": postings_encoding,
        "term_frontcoding": term_frontcoding,
        "cache_plan": cache_plan,
        "stopword_induction": stopword_induction,
        "source_vocab_overlap": source_vocab_overlap,
        "scan_pruning": scan_pruning,
        "compaction_plan": compaction_plan,
        "zorder_events": zorder_events,
        "synonym_query": synonym_query,
        "collapse_results": collapse_results,
        "count_hits": count_hits,
        "unordered_window": unordered_window,
        "sort_by_field": sort_by_field,
        "function_score": function_score,
        "mask_spans": mask_spans,
        "mlm_mask": mlm_mask,
        "phrase_compressed": phrase_compressed,
        "span_first": span_first,
        "multi_phrase": multi_phrase,
        "match_phrase_prefix": match_phrase_prefix,
        "char_entropy": char_entropy,
        "comb_fuse": comb_fuse,
        "borda_fuse": borda_fuse,
        "condorcet_fuse": condorcet_fuse,
        "ltr_train": ltr_train,
        "ltr_apply": ltr_apply,
        "zscore_fuse": zscore_fuse,
        "ltr_features": ltr_features,
        "eval_macro": eval_macro,
        "bm25_plus": bm25_plus,
        "rank_rbo": rank_rbo,
        "interleave_runs": interleave_runs,
        "interleave_credit": interleave_credit,
        "interleave_sign": interleave_sign,
        "ips_eval": ips_eval,
        "qpp_pre": qpp_pre,
        "qpp_post": qpp_post,
        "pack_sequences": pack_sequences,
        "bm25_topk_wand": bm25_topk_wand,
        "impact_topk": impact_topk,
        "eval_metrics": eval_metrics,
        "lmdir_topk": lmdir_topk,
        "lmjm_topk": lmjm_topk,
        "dfr_topk": dfr_topk,
        "pl2_topk": pl2_topk,
        "dph_topk": dph_topk,
        "pivoted_topk": pivoted_topk,
        "dfi_topk": dfi_topk,
        "sdm_topk": sdm_topk,
        "ib_topk": ib_topk,
        "spl_topk": spl_topk,
        "boolean_topk": boolean_topk,
        "f2exp_topk": f2exp_topk,
        "boosting_topk": boosting_topk,
        "rescore_topk": rescore_run,
        "range_facets": range_facets,
        "run_wilcoxon": run_wilcoxon,
        "run_friedman": run_friedman,
        "click_model_pbm": click_model_pbm,
        "swap_propensity": swap_propensity,
        "click_model_cascade": click_model_cascade,
        "dsir_select": dsir_select,
        "length_buckets": length_buckets,
        "length_batches": length_batches,
        "centroid_classify": centroid_classify,
        "naive_bayes": naive_bayes,
        "knn_classify": knn_classify,
        "collocations_llr": collocations_llr,
        "heaps_law": heaps_law,
        "zipf_law": zipf_law,
        "xquad_rerank": xquad_rerank,
        "pm2_rerank": pm2_rerank,
        "index_compact": index_compact,
        "pagerank_boost": pagerank_boost,
        "classifier_calibration": classifier_calibration,
        "term_max_scores": term_max_scores,
        "term_burstiness": term_burstiness,
        "doc_keywords": doc_keywords,
        "funnel_latency": funnel_latency,
        "rendezvous_hashing": rendezvous_hashing,
        "consistent_hashing": consistent_hashing,
        "ring_balance": ring_balance,
        "event_lift": event_lift,
        "hard_negatives": hard_negatives,
        "trigram_lm_xent": trigram_lm_xent,
        "query_relaxation": query_relaxation,
        "inf_ap": inf_ap,
        "session_abandonment": session_abandonment,
        "k_anonymity": k_anonymity,
        "burst_report": burst_report,
        "query_volume": query_volume,
        "sat_clicks": sat_clicks,
        "l_diversity": l_diversity,
        "t_closeness": t_closeness,
        "ab_ztest": ab_ztest,
        "event_seasonality": event_seasonality,
        "enrich_streamed": enrich_streamed,
        "condensed_ap": condensed_ap,
        "span_not": span_not,
        "span_within": span_within,
        "span_or": span_or,
        "span_containing": span_containing,
        "block_join": block_join,
        "block_join_total": block_join_total,
        "block_join_children": block_join_children,
        "common_terms": common_terms,
        "corpus_divergence": corpus_divergence,
        "facet_hierarchy": facet_hierarchy,
        "risk_eval": risk_eval,
        "importance_sample": importance_sample,
        "significant_terms": significant_terms,
        "bo1_expansion": bo1_expansion,
        "percolate": percolate,
        "percolate_indexed": percolate_indexed,
        "percolate_scored": percolate_scored,
        "percolate_streamed": percolate_streamed,
        "cori_selection": cori_selection,
        "cori_merge": cori_merge,
        "redde_selection": redde_selection,
        "join_query": join_query,
        "join_scores": join_scores,
        "stats_agg": stats_agg,
        "index_check": index_check,
        "index_disk_usage": index_disk_usage,
        "shard_skew": shard_skew,
        "did_you_mean": did_you_mean,
        "word_break": word_break,
        "best_fragments": best_fragments,
        "proximity_rerank": proximity_rerank,
        "snapshot_diff": snapshot_diff,
        "revisit_policy": revisit_policy,
        "bootstrap_map_ci": bootstrap_map_ci,
        "bootstrap_paired": bootstrap_paired,
        "run_permutation": run_permutation,
        "eval_qmeasure": eval_qmeasure,
        "event_retention": event_retention,
        "click_attribution": click_attribution,
        "attribution_streamed": attribution_streamed,
        "event_json_props": event_json_props,
        "blocklist": blocklist,
        "classic_topk": classic_topk,
        "spell_suggest": spell_suggest,
        "verbose_qsel": verbose_qsel,
        "query_segmentation": query_segmentation,
        "rr_histogram": rr_histogram,
        "rm_weights": rm_weights,
        "rm1_iid_weights": rm1_iid_weights,
        "rm3_weights": rm3_weights,
        "rocchio_weights": rocchio_weights,
        "query_clarity": query_clarity,
        "qq_jsdiv": qq_jsdiv,
        "hyperbolic_rerank": hyperbolic_rerank,
        "bm25_weighted": bm25_weighted,
        "jaccard_bigram_pairs": jaccard_bigram_pairs,
        "decontaminate": decontaminate,
        "dup_clusters": dup_clusters,
        "dedup_corpus": dedup_corpus,
        "url_normalize": url_normalize,
        "host_stats": host_stats,
        "crawl_schedule": crawl_schedule,
        "unimax": unimax,
        "inbatch_negatives": inbatch_negatives,
        "robots_filter": robots_filter,
        "dedup_survivors": dedup_survivors,
        "kl_rerank": kl_rerank,
        "expand_query_terms": expand_query_terms,
        "feedback_rerank_run": feedback_rerank_run,
        "diversity_rerank": diversity_rerank,
        "simhash_pairs": simhash_pairs,
        "index_merge": index_merge,
        "index_delete": index_delete,
        "incremental_index_streamed": incremental_index_streamed,
        "checkpointed_build": checkpointed_build,
        "more_like_this": more_like_this,
        "index_to_tsv": index_to_tsv,
        "doc_lookup": doc_lookup,
        "exact_dedup": exact_dedup,
        "jaccard_pairs": jaccard_pairs,
        "containment_pairs": containment_pairs,
        "lsh_calibration": lsh_calibration,
        "minhash_signatures": minhash_signatures,
        "minhash_join": minhash_join,
        "substring_pairs": substring_pairs,
        "top_ngrams": top_ngrams,
        "vocab_coverage": vocab_coverage,
        "apply_vocab": apply_vocab,
        "minhash_lsh_pairs": minhash_lsh_pairs,
        "simhash_fingerprints": simhash_fingerprints,
        "hybrid_rrf": hybrid_rrf,
        "ann_cosine_topk": ann_cosine_topk,
        "kmeans_step": kmeans_step,
        "cluster_quality": cluster_quality,
        "jl_projection": jl_projection,
        "mutual_nn": mutual_nn,
        "ann_quantized_topk": ann_quantized_topk,
        "ann_truncated_topk": ann_truncated_topk,
        "ann_lsh_topk": ann_lsh_topk,
        "ann_multiprobe_topk": ann_multiprobe_topk,
        "ann_recall": ann_recall,
        "ann_ivf_topk": ann_ivf_topk,
        "embedding_near_dups": embedding_near_dups,
        "maxsim": maxsim,
        "embedding_near_dups_lsh": embedding_near_dups_lsh,
        "duplicate_spans": duplicate_spans,
        "classifier_score": classifier_score,
        "classifier_eval": classifier_eval,
        "mcnemar": mcnemar,
        "similar_docs": similar_docs,
        "phrase_query": phrase_query,
        "bm25_must_not": bm25_must_not,
        "facet_counts": facet_counts,
        "drill_sideways": drill_sideways,
        "run_ttest": run_ttest,
        "assessor_kappa": assessor_kappa,
        "score_cutoff": score_cutoff,
        "query_difficulty": query_difficulty,
        "snippets": snippets,
        "hygiene_streamed": hygiene_streamed,
        "fuzzy_query": fuzzy_query,
        "spell_ngram": spell_ngram,
        "grouped_results": grouped_results,
        "proximity_query": proximity_query,
        "semantic_dedup": semantic_dedup,
        "source_cap_sample": source_cap_sample,
        "token_count": token_count,
        "quality_score": quality_score,
        "readability": readability,
        "repetition_stats": repetition_stats,
        "pii_redaction": pii_redaction,
        "cc_redaction": cc_redaction,
        "lang_id": lang_id,
        "quality_filter": quality_filter,
        "sample_stratified": sample_stratified,
        "temperature_mix": temperature_mix,
        "assign_splits": assign_splits,
        "weighted_sample": weighted_sample,
        "hygiene_funnel": hygiene_funnel,
        "corpus_composition": corpus_composition,
        "chunk_documents": chunk_documents,
        "dedup_lines": dedup_lines,
        "boilerplate_strip": boilerplate_strip,
        "gazetteer": gazetteer,
        "sitemap": sitemap,
        "host_gini": host_gini,
        "warc": warc,
        "doc_fingerprint": doc_fingerprint,
        "embedding_norms": embedding_norms,
        "event_window_stats": event_window_stats,
        "event_window_streamed": event_window_streamed,
        "event_distinct_streamed": event_distinct_streamed,
        "event_window_hopping": event_window_hopping,
        "event_funnel": event_funnel,
        "event_transitions": event_transitions,
        "event_paths": event_paths,
        "event_ewma": event_ewma,
        "event_anomaly": event_anomaly,
        "shard_idf_drift": shard_idf_drift,
        "user_rfm": user_rfm,
        "dedup_streamed": dedup_streamed,
        "event_sessionize": event_sessionize,
        "event_sessionize_streamed": event_sessionize_streamed,
        "frame_sample_plan": frame_sample_plan,
        "vit_patches": vit_patches,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "doc_stats": f"WITH {_TOKS}, {_DL} SELECT doc_id, doc_len FROM dl",
        "term_stats": (
            f"WITH {_TOKS}, {_TF}, {_DFT} SELECT term, df, cf FROM dft"
        ),
        "tf_postings": f"WITH {_TOKS}, {_TF} SELECT term, doc_id, tf FROM tf",
        "collection_stats": (
            f"WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS} "
            "SELECT s.n_docs, round(s.avgdl, 4) AS avgdl, "
            "(SELECT count(*)::BIGINT FROM dft) AS vocab_size, "
            "s.total_tokens FROM stats s"
        ),
        "idf_dump": (
            f"WITH {_TOKS}, {_TF}, {_DL}, {_DFT}, {_STATS} "
            "SELECT term, round(ln(s.n_docs / df), 4) AS idf "
            "FROM dft CROSS JOIN stats s"
        ),
        "lm_cross_entropy": (
            f"WITH {_TOKS}, {_TF}, {_DL}, "
            "cf AS (SELECT term, count(*)::BIGINT AS cf"
            " FROM toks GROUP BY 1), "
            "tot AS (SELECT count(*)::DOUBLE AS c FROM toks) "
            "SELECT tf.doc_id, "
            "round(-sum(tf.tf * ln(cf.cf / t.c)) / dl.doc_len, 4)"
            " AS cross_entropy "
            "FROM tf JOIN cf USING (term)"
            " JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN tot t "
            "GROUP BY tf.doc_id, dl.doc_len"
        ),
        # same LM, CCNet fixed-threshold keep (filter on the RAW value,
        # round for output — exactly like the operator)
        "lm_quality_filter": (
            f"WITH {_TOKS}, {_TF}, {_DL}, "
            "cf AS (SELECT term, count(*)::BIGINT AS cf"
            " FROM toks GROUP BY 1), "
            "tot AS (SELECT count(*)::DOUBLE AS c FROM toks), "
            "x AS (SELECT tf.doc_id, "
            "-sum(tf.tf * ln(cf.cf / t.c)) / dl.doc_len AS xent "
            "FROM tf JOIN cf USING (term)"
            " JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN tot t "
            "GROUP BY tf.doc_id, dl.doc_len) "
            "SELECT doc_id, round(xent, 4) AS cross_entropy "
            "FROM x WHERE xent <= 3.41"
        ),
        # per-lang rank tertiles over the same LM signal; ntile is the
        # SQL-standard equal-fill split on BOTH engines, ordering on
        # the 4dp grid + doc_id so raw-ulp xent order can't leak in
        "xent_buckets": (
            f"WITH {_TOKS}, {_TF}, {_DL}, "
            "cf AS (SELECT term, count(*)::BIGINT AS cf"
            " FROM toks GROUP BY 1), "
            "tot AS (SELECT count(*)::DOUBLE AS c FROM toks), "
            "x AS (SELECT tf.doc_id, "
            "-sum(tf.tf * ln(cf.cf / t.c)) / dl.doc_len AS xent "
            "FROM tf JOIN cf USING (term)"
            " JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN tot t "
            "GROUP BY tf.doc_id, dl.doc_len) "
            "SELECT x.doc_id, d.lang, round(x.xent, 4) AS cross_entropy, "
            "CASE ntile(3) OVER (PARTITION BY d.lang"
            " ORDER BY round(x.xent, 4), x.doc_id) "
            "WHEN 1 THEN 'head' WHEN 3 THEN 'tail' ELSE 'middle' END"
            " AS bucket "
            "FROM x JOIN documents d ON d.doc_id = x.doc_id"
        ),
        "bm25_topk": _bm25_sql(conjunctive=False),
        "pruned_topk": _pruned_topk_sql(),
        "bm25_conjunctive": _bm25_sql(conjunctive=True),
        "bm25_msm": _bm25_sql(conjunctive=False, msm=_MSM),
        "covering_query": _covering_sql(),
        # keyset page 2 must equal the rank-offset page
        "search_after": _bm25_sql(conjunctive=False, page=2),
        "prefix_query": _prefix_sql(),
        "boolean_query_parse": _bool_query_sql(),
        "filtered_query": _bm25_sql(
            conjunctive=False, filter_sources=_FILTER_SOURCES
        ),
        "bm25f_topk": _bm25f_sql(),
        "complete_prefix": _complete_prefix_sql(),
        "infix_suggest": _infix_suggest_sql(),
        "fuzzy_complete": _fuzzy_complete_sql(),
        "explain_score": _explain_sql(),
        "bpe_pair_counts": _bpe_pairs_sql(),
        "sp_candidates": _sp_candidates_sql(),
        "wordpiece_encode": _wordpiece_sql(),
        "sp_encode_viterbi": _sp_encode_sql(),
        "bpe_merges": _bpe_merges_sql(),
        "index_upsert": _upsert_sql(),
        "trec_pooling": _pooling_sql(),
        "run_diff": _run_diff_sql(),
        "pool_depth_curve": _pool_depth_sql(),
        "search_length": _search_length_sql(),
        "rank_correlation": _rank_corr_sql(),
        "tau_ap": _tau_ap_sql(),
        "rank_spearman": _spearman_sql(),
        "spatial_radius": _spatial_sql(),
        "spatial_bbox": _spatial_bbox_sql(),
        "bigram_lm_xent": _bigram_xent_sql(),
        "stupid_backoff": _stupid_backoff_sql(),
        "kneser_ney_xent": _kneser_ney_sql(),
        "witten_bell": _WITTEN_BELL_SQL,
        "good_turing": _GOOD_TURING_SQL,
        "suggest_next": _suggest_next_sql(),
        "normalize_text": _normalize_text_sql(),
        "corpus_token_stats": _TOKEN_STATS_SQL,
        "token_budget_sample": _token_budget_sql(),
        "dismax_topk": _dismax_sql(),
        "wildcard_query": _wildcard_sql(),
        "term_range_query": _term_range_sql(),
        "extended_metrics": _ext_metrics_sql(),
        "alpha_ndcg": _alpha_ndcg_sql(),
        "err_ia": _err_ia_sql(),
        "iprec_at_recall": _IPREC_SQL,
        "r_precision": _RPREC_SQL,
        "link_pagerank": _PAGERANK_SQL,
        "link_cocitation": _COCITATION_SQL,
        "link_prediction": _LINK_PREDICTION_SQL,
        "link_bfs": _LINK_BFS_SQL,
        "kcore_peel": _KCORE_SQL,
        "link_degree_stats": _LINK_DEGREE_SQL,
        "link_assortativity": _LINK_ASSORT_SQL,
        "link_modularity": _LINK_MODULARITY_SQL,
        "anchor_field": _ANCHOR_FIELD_SQL,
        "link_triangles": _TRIANGLES_SQL,
        "link_hits": _HITS_SQL,
        "link_ppr": _PPR_SQL,
        "term_pmi": _PMI_SQL,
        "ppmi_neighbors": _PPMI_SQL,
        "snm_pairs": _SNM_SQL,
        "asof_last_view": _ASOF_SQL,
        "distinct_sketch": _KMV_SQL,
        "kmv_set_ops": _KMV_SETOPS_SQL,
        "selectivity_est": _SELECTIVITY_SQL,
        "hll_distinct": _hll_distinct_sql(),
        "ann_pq_topk": _ann_pq_sql(),
        "simple_query_string": _sqs_sql(),
        "countmin_sketch": _countmin_sql(),
        "bloom_membership": _bloom_sql(),
        "event_rollup": _ROLLUP_SQL,
        "docvalues_report": _DOCVALUES_SQL,
        "postings_encoding": _postings_encoding_sql(),
        "term_frontcoding": _term_frontcoding_sql(),
        "cache_plan": _cache_plan_sql(),
        "stopword_induction": _STOPWORD_INDUCTION_SQL,
        "source_vocab_overlap": _SOURCE_VOCAB_OVERLAP_SQL,
        "scan_pruning": _scan_pruning_sql(),
        "compaction_plan": _COMPACTION_SQL,
        "zorder_events": _ZORDER_SQL,
        "synonym_query": _synonym_sql(),
        "collapse_results": _collapse_sql(),
        "count_hits": _count_hits_sql(),
        "unordered_window": _unordered_window_sql(),
        "sort_by_field": _sort_by_field_sql(),
        "function_score": _function_score_sql(),
        "mask_spans": _mask_spans_sql(),
        "mlm_mask": _mlm_mask_sql(),
        "phrase_compressed": _phrase_query_sql(),
        "span_first": _span_first_sql(),
        "multi_phrase": _multi_phrase_sql(),
        "match_phrase_prefix": _mpp_sql(),
        "char_entropy": _char_entropy_sql(),
        "comb_fuse": _comb_fuse_sql(),
        "zscore_fuse": _comb_fuse_sql(method="zsum"),
        "borda_fuse": _borda_fuse_sql(),
        "condorcet_fuse": _condorcet_fuse_sql(),
        "ltr_train": _ltr_train_sql(),
        "ltr_apply": _ltr_apply_sql(),
        "ltr_features": _ltr_features_sql(),
        "eval_macro": _eval_macro_sql(),
        "bm25_plus": _bm25_plus_sql(),
        "rank_rbo": _rank_rbo_sql(),
        "interleave_runs": _interleave_sql(),
        "interleave_credit": _interleave_credit_sql(),
        "interleave_sign": _interleave_sign_sql(),
        "ips_eval": _ips_eval_sql(),
        "qpp_pre": _qpp_pre_sql(),
        "qpp_post": _qpp_post_sql(),
        "pack_sequences": _pack_sequences_sql(),
        "bm25_topk_wand": _bm25_sql(conjunctive=False),
        "impact_topk": _impact_sql(),
        "eval_metrics": _EVAL_SQL,
        "lmdir_topk": _lm_sql("lmdir"),
        "lmjm_topk": _lm_sql("lmjm"),
        "dfr_topk": _sim2_sql("dfr_inl2"),
        "pl2_topk": _sim2_sql("pl2"),
        "dph_topk": _sim2_sql("dph"),
        "pivoted_topk": _sim2_sql("pivoted"),
        "dfi_topk": _sim2_sql("dfi"),
        "sdm_topk": _sdm_sql(),
        "ib_topk": _sim2_sql("ib_ll"),
        "spl_topk": _sim2_sql("spl"),
        "boolean_topk": _sim2_sql("boolean"),
        "f2exp_topk": _sim2_sql("f2exp"),
        "boosting_topk": _boosting_sql(),
        "rescore_topk": _rescore_sql(),
        "range_facets": _range_facets_sql(),
        "run_wilcoxon": _run_wilcoxon_sql(),
        "run_friedman": _run_friedman_sql(),
        "click_model_pbm": _click_model_sql(),
        "swap_propensity": _swap_propensity_sql(),
        "click_model_cascade": _CASCADE_SQL,
        "dsir_select": _dsir_select_sql(),
        "length_buckets": _length_buckets_sql(),
        "length_batches": _length_batches_sql(),
        "centroid_classify": _centroid_classify_sql(),
        "naive_bayes": _naive_bayes_sql(),
        "knn_classify": _knn_classify_sql(),
        "collocations_llr": _collocations_llr_sql(),
        "heaps_law": _heaps_sql(),
        "zipf_law": _zipf_sql(),
        "xquad_rerank": _xquad_sql(),
        "pm2_rerank": _pm2_sql(),
        "index_compact": _index_compact_sql(),
        "pagerank_boost": _pagerank_boost_sql(),
        "classifier_calibration": _classifier_calibration_sql(),
        "term_max_scores": _term_max_contrib_sql(),
        "term_burstiness": _term_burstiness_sql(),
        "doc_keywords": _doc_keywords_sql(),
        "funnel_latency": _funnel_latency_sql(),
        "rendezvous_hashing": _rendezvous_sql(),
        "consistent_hashing": _consistent_hashing_sql(),
        "ring_balance": _ring_balance_sql(),
        "event_lift": _EVENT_LIFT_SQL,
        "hard_negatives": _hard_negatives_sql(),
        "trigram_lm_xent": _trigram_xent_sql(),
        "query_relaxation": _query_relaxation_sql(),
        "inf_ap": _inf_ap_sql(),
        "session_abandonment": _ABANDON_SQL,
        "k_anonymity": _k_anonymity_sql(),
        "burst_report": _BURST_SQL,
        "query_volume": _query_volume_sql(),
        "sat_clicks": _SAT_CLICKS_SQL,
        "l_diversity": _l_diversity_sql(),
        "t_closeness": _t_closeness_sql(),
        "ab_ztest": _ab_ztest_sql(),
        "event_seasonality": _SEASONALITY_SQL,
        "condensed_ap": _condensed_ap_sql(),
        "span_not": _span_not_sql(),
        "span_within": _span_within_sql(),
        "span_or": _span_or_sql(),
        "span_containing": _span_containing_sql(),
        "block_join": _block_join_sql(),
        "block_join_total": _block_join_sql(combiner="sum"),
        "block_join_children": _block_join_children_sql(),
        "common_terms": _common_terms_sql(),
        "corpus_divergence": _DIVERGENCE_SQL,
        "facet_hierarchy": _facet_hierarchy_sql(),
        "risk_eval": _risk_eval_sql(),
        "importance_sample": _importance_sample_sql(),
        "significant_terms": _significant_terms_sql(),
        "bo1_expansion": _bo1_sql(),
        "percolate": _percolate_sql(),
        "percolate_indexed": _percolate_sql(),
        "percolate_scored": _percolate_scored_sql(),
        "percolate_streamed": _percolate_streamed_sql(),
        "cori_selection": _cori_sql(),
        "cori_merge": _cori_merge_sql(),
        "redde_selection": _redde_sql(),
        "join_query": _join_query_sql(),
        "join_scores": _join_scores_sql(),
        "stats_agg": _stats_agg_sql(),
        "index_check": _index_check_sql(),
        "index_disk_usage": _index_disk_usage_sql(),
        "shard_skew": (
            f"WITH du AS ({_index_disk_usage_sql()})"
            " SELECT salt, count(*)::BIGINT AS n_blobs,"
            " sum(n_docs)::BIGINT AS n_postings,"
            " sum(blob_bytes)::BIGINT AS total_bytes"
            " FROM du GROUP BY 1"
        ),
        "did_you_mean": _did_you_mean_sql(),
        "word_break": _word_break_sql(),
        "best_fragments": _best_fragments_sql(),
        "proximity_rerank": _proximity_rerank_sql(),
        "snapshot_diff": _SNAP_DIFF_SQL,
        "revisit_policy": _revisit_policy_sql(),
        "bootstrap_map_ci": _bootstrap_ci_sql(),
        "bootstrap_paired": _bootstrap_paired_sql(),
        "run_permutation": _run_permutation_sql(),
        "eval_qmeasure": _qmeasure_sql(),
        "event_retention": _RETENTION_SQL,
        "click_attribution": _ATTRIBUTION_SQL,
        "attribution_streamed": _ATTRIBUTION_SQL,
        "event_json_props": _JSON_PROPS_SQL,
        "blocklist": _blocklist_sql(),
        "classic_topk": _CLASSIC_SQL,
        "spell_suggest": _spell_suggest_sql(),
        "verbose_qsel": _QSEL_SQL,
        "query_segmentation": _qseg_sql(),
        "rr_histogram": _RR_HIST_SQL,
        "rm_weights": _RM_SQL,
        "rm1_iid_weights": _RM_IID_SQL,
        "rm3_weights": _RM3_SQL.format(ctes=_BM25_RUN_CTES),
        "rocchio_weights": _ROCCHIO_SQL.format(ctes=_BM25_RUN_CTES),
        "query_clarity": _CLARITY_SQL,
        "qq_jsdiv": _JSDIV_SQL,
        "hyperbolic_rerank": _HYPERBOLIC_SQL,
        "bm25_weighted": _BM25_WEIGHTED_SQL,
        "jaccard_bigram_pairs": _JACCARD_BIGRAM_SQL,
        "decontaminate": _DECONTAM_SQL,
        "dup_clusters": _DUP_CLUSTERS_SQL,
        "dedup_corpus": _DEDUP_CORPUS_SQL,
        "url_normalize": _url_normalize_sql(),
        "host_stats": _host_stats_sql(),
        "crawl_schedule": _crawl_schedule_sql(),
        "unimax": _unimax_sql(),
        "inbatch_negatives": _inbatch_negatives_sql(),
        "robots_filter": _robots_sql(),
        "dedup_survivors": _DEDUP_SURVIVORS_SQL,
        "kl_rerank": _KL_SQL,
        "expand_query_terms": _EXPAND_SQL,
        "feedback_rerank_run": _FDBK_RERANK_SQL,
        "diversity_rerank": _DIVERSITY_SQL,
        "simhash_pairs": _SIMHASH64_PAIRS_SQL,
        "index_merge": _INDEX_MERGE_SQL,
        "index_delete": _INDEX_DELETE_SQL,
        # streamed and checkpointed builds must both equal the one-shot
        # full build — same oracle as index_merge
        "incremental_index_streamed": _INDEX_MERGE_SQL,
        "checkpointed_build": _INDEX_MERGE_SQL,
        "more_like_this": _mlt_sql(),
        "index_to_tsv": "SELECT doc_id, text AS content FROM documents",
        "doc_lookup": (
            "SELECT doc_id, lang, n_chars FROM documents"
            " WHERE doc_id IN (3, 7, 11)"
        ),
        "exact_dedup": (
            "SELECT md5(text) AS digest, count(*)::BIGINT AS n_docs,"
            " min(doc_id) AS keep_doc_id FROM documents GROUP BY 1"
        ),
        "jaccard_pairs": _JACCARD_SQL,
        "containment_pairs": _CONTAIN_SQL,
        "lsh_calibration": f"""
WITH ex AS ({_JACCARD_SQL}),
ls AS ({_MINHASH_LSH_SQL}),
c AS (SELECT count(*)::BIGINT AS n_common
      FROM ex WHERE EXISTS (SELECT 1 FROM ls
                            WHERE ls.a = ex.a AND ls.b = ex.b))
SELECT (SELECT count(*)::BIGINT FROM ex) AS n_exact,
       (SELECT count(*)::BIGINT FROM ls) AS n_lsh,
       (SELECT count(*)::BIGINT FROM ex) - c.n_common AS n_missed,
       round(c.n_common * 1.0 / (SELECT count(*) FROM ex), 4) AS recall
FROM c
""",
        "minhash_signatures": _MINHASH_SQL,
        "minhash_join": _MINHASH_JOIN_SQL,
        "substring_pairs": _SUBSTRING_SQL,
        "top_ngrams": _TOP_NGRAMS_SQL,
        "vocab_coverage": _VOCAB_COVERAGE_SQL,
        "apply_vocab": _APPLY_VOCAB_SQL,
        "minhash_lsh_pairs": _MINHASH_LSH_SQL,
        "simhash_fingerprints": _SIMHASH_SQL,
        "hybrid_rrf": _hybrid_rrf_sql(),
        "ann_cosine_topk": _ANN_SQL,
        "kmeans_step": _KMEANS_STEP_SQL,
        "cluster_quality": _CLUSTER_QUALITY_SQL,
        "jl_projection": _jl_sql(),
        "mutual_nn": _MUTUAL_NN_SQL,
        "ann_quantized_topk": _ann_quantized_sql(),
        "ann_truncated_topk": _ANN_TRUNCATED_SQL,
        "ann_lsh_topk": _ann_lsh_sql(),
        "ann_multiprobe_topk": _ann_multiprobe_sql(),
        "ann_recall": f"""
WITH ap AS ({_ann_multiprobe_sql()}),
ex AS ({_ANN_SQL}),
h AS (SELECT count(*)::BIGINT AS n_hit FROM ex
      WHERE EXISTS (SELECT 1 FROM ap
                    WHERE ap.query_id = ex.query_id
                    AND ap.vec_id = ex.vec_id))
SELECT (SELECT count(*) FROM ex)::BIGINT AS n_exact,
       (SELECT count(*) FROM ap)::BIGINT AS n_approx,
       h.n_hit,
       round(h.n_hit * 1.0 / (SELECT count(*) FROM ex), 4) AS recall
FROM h
""",
        "ann_ivf_topk": _ANN_IVF_SQL,
        "embedding_near_dups_lsh": _near_dup_lsh_sql(),
        "token_count": (
            "SELECT doc_id,"
            " len(list_filter(regexp_split_to_array(trim(text), '\\s+'),"
            "     x -> x <> ''))::BIGINT AS ws_tokens,"
            " len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),"
            "     x -> x <> ''))::BIGINT AS word_tokens,"
            " length(text)::BIGINT AS n_chars FROM documents"
        ),
        "quality_score": _QUALITY_SQL,
        "readability": _READABILITY_SQL,
        "repetition_stats": _REPETITION_SQL,
        "pii_redaction": _pii_sql(),
        "cc_redaction": _cc_sql(),
        "lang_id": _LANGID_SQL,
        "quality_filter": _quality_filter_sql(),
        "sample_stratified": _sample_stratified_sql(),
        "temperature_mix": _temperature_mix_sql(),
        "assign_splits": _assign_splits_sql(),
        "weighted_sample": _weighted_sample_sql(),
        "hygiene_funnel": _hygiene_funnel_sql(),
        "corpus_composition": _corpus_composition_sql(),
        "chunk_documents": _chunk_documents_sql(),
        "dedup_lines": _dedup_lines_sql(),
        "boilerplate_strip": _boilerplate_sql(),
        "gazetteer": _gazetteer_sql(),
        "sitemap": _SITEMAP_SQL,
        "host_gini": _host_gini_sql(),
        "warc": _WARC_SQL,
        "doc_fingerprint": (
            "WITH t AS (SELECT DISTINCT doc_id, unnest(list_filter("
            "regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''))"
            " AS term FROM documents)"
            " SELECT doc_id, md5(string_agg(term, ' ' ORDER BY term))"
            " AS fingerprint FROM t GROUP BY doc_id"
        ),
        "embedding_near_dups": (
            "WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v,"
            " sqrt(list_dot_product(embedding::DOUBLE[],"
            " embedding::DOUBLE[])) AS n FROM embeddings)"
            " SELECT a.vec_id AS a, b.vec_id AS b,"
            " round(list_dot_product(a.v, b.v) / (a.n * b.n), 4) AS cosine"
            " FROM c a JOIN c b ON a.vec_id < b.vec_id"
            " WHERE list_dot_product(a.v, b.v) / (a.n * b.n) >= 0.4"
        ),
        "maxsim": (
            "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v"
            " FROM embeddings),"
            " dt AS (SELECT (vec_id // 8)::BIGINT AS group_id, v,"
            " sqrt(list_dot_product(v, v)) AS dn FROM e),"
            " qt AS (SELECT 'm' || (vec_id // 8) AS qid,"
            " (vec_id % 8)::BIGINT AS tok, v AS qv,"
            " sqrt(list_dot_product(v, v)) AS qn"
            " FROM e WHERE (vec_id // 8) % 25 = 0 AND vec_id % 8 <= 1),"
            " p AS (SELECT qt.qid, qt.tok, dt.group_id,"
            " list_dot_product(qt.qv, dt.v) / (qt.qn * dt.dn) AS c"
            " FROM dt CROSS JOIN qt),"
            " b AS (SELECT qid, tok, group_id, max(c) AS m"
            " FROM p GROUP BY 1, 2, 3),"
            " s AS (SELECT qid, group_id, sum(m) AS sv"
            " FROM b GROUP BY 1, 2),"
            " r AS (SELECT qid, group_id,"
            " row_number() OVER (PARTITION BY qid"
            " ORDER BY sv DESC, group_id ASC)::BIGINT AS rank,"
            " round(sv, 4) AS score FROM s)"
            " SELECT qid, group_id, rank, score FROM r WHERE rank <= 5"
        ),
        "duplicate_spans": _duplicate_spans_sql(),
        "classifier_score": _classifier_score_sql(),
        "classifier_eval": _classifier_eval_sql(),
        "mcnemar": _mcnemar_sql(),
        "similar_docs": _similar_docs_sql(),
        "phrase_query": _phrase_query_sql(),
        "bm25_must_not": _bm25_must_not_sql(),
        "facet_counts": _FACETS_SQL.format(
            bm25=_bm25_sql(conjunctive=False)
        ),
        "drill_sideways": _DRILL_SIDEWAYS_SQL.format(
            bm25=_bm25_sql(conjunctive=False)
        ),
        "run_ttest": _run_ttest_sql(),
        "assessor_kappa": _assessor_kappa_sql(),
        "score_cutoff": _score_cutoff_sql(),
        "query_difficulty": _query_difficulty_sql(),
        "snippets": _snippets_sql(),
        "hygiene_streamed": _hygiene_streamed_sql(),
        "fuzzy_query": _fuzzy_query_sql(),
        "spell_ngram": _spell_ngram_sql(),
        "proximity_query": _proximity_sql(),
        "grouped_results": _GROUPED_SQL.format(
            bm25=_bm25_sql(conjunctive=False)
        ),
        "semantic_dedup": _semantic_dedup_sql(),
        "source_cap_sample": _source_cap_sql(),
        "embedding_norms": (
            "SELECT vec_id, round(sqrt(list_dot_product("
            "embedding::DOUBLE[], embedding::DOUBLE[])), 4) AS norm"
            " FROM embeddings"
        ),
        "event_window_stats": (
            "SELECT date_trunc('hour', ts)::VARCHAR AS window_start,"
            " event_type, count(*)::BIGINT AS n_events,"
            " round(sum(value), 4) AS sum_value,"
            " round(avg(value), 4) AS avg_value"
            " FROM events GROUP BY 1, 2"
        ),
        # first-order Markov transitions: one lead() per user path
        "event_transitions": """
WITH e AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
             ORDER BY epoch_us(ts), event_id) AS dst
  FROM events
)
SELECT src, dst, count(*)::BIGINT AS n_transitions
FROM e WHERE dst IS NOT NULL GROUP BY 1, 2
""",
        "event_paths": """
WITH e AS (
  SELECT event_type AS t0,
         lead(event_type, 1) OVER (PARTITION BY user_id
             ORDER BY epoch_us(ts), event_id) AS t1,
         lead(event_type, 2) OVER (PARTITION BY user_id
             ORDER BY epoch_us(ts), event_id) AS t2
  FROM events
),
c AS (
  SELECT t0 || '>' || t1 || '>' || t2 AS path,
         count(*)::BIGINT AS n_paths
  FROM e WHERE t2 IS NOT NULL GROUP BY 1
),
r AS (
  SELECT path, n_paths,
         row_number() OVER (ORDER BY n_paths DESC, path ASC)::BIGINT
           AS rank
  FROM c
)
SELECT path, n_paths, rank FROM r WHERE rank <= 20
""",
        # ordered funnel: chained greedy-earliest minima per user
        "event_funnel": """
WITH e AS (SELECT user_id AS u, event_type AS t, epoch_us(ts) AS us
           FROM events),
m1 AS (SELECT u, min(us) AS m FROM e WHERE t = 'view' GROUP BY 1),
m2 AS (SELECT e.u, min(e.us) AS m FROM e JOIN m1 ON e.u = m1.u
       WHERE e.t = 'click' AND e.us >= m1.m GROUP BY 1),
m3 AS (SELECT e.u, min(e.us) AS m FROM e JOIN m2 ON e.u = m2.u
       WHERE e.t = 'purchase' AND e.us >= m2.m GROUP BY 1)
SELECT 1::BIGINT AS step, 'view' AS event_type,
       (SELECT count(*) FROM m1)::BIGINT AS n_users
UNION ALL SELECT 2::BIGINT, 'click',
       (SELECT count(*) FROM m2)::BIGINT
UNION ALL SELECT 3::BIGINT, 'purchase',
       (SELECT count(*) FROM m3)::BIGINT
""",
        # hopping windows: each event replicated into its two
        # slide-aligned containing windows
        "event_window_hopping": (
            "WITH e AS (SELECT time_bucket(INTERVAL '30 minutes', ts)"
            " AS tb, event_type, value FROM events),"
            " x AS (SELECT tb AS ws, event_type, value FROM e"
            " UNION ALL SELECT tb - INTERVAL '30 minutes',"
            " event_type, value FROM e)"
            " SELECT ws::VARCHAR AS window_start, event_type,"
            " count(*)::BIGINT AS n_events,"
            " round(sum(value), 4) AS sum_value"
            " FROM x GROUP BY 1, 2"
        ),
        # streamed dedup: kept digest set == the corpus's distinct
        # digests (wave-2 re-deliveries are state-dropped)
        "dedup_streamed": (
            "SELECT DISTINCT md5(text) AS digest FROM documents"
        ),
        # streamed twin: flushed set == batch over events + sentinel 1
        "event_window_streamed": (
            "WITH ev2 AS ("
            " SELECT ts, event_type, value FROM events"
            " UNION ALL SELECT TIMESTAMP '2030-01-01 00:00:00',"
            " 'sentinel', 0.0)"
            " SELECT date_trunc('hour', ts)::VARCHAR AS window_start,"
            " event_type, count(*)::BIGINT AS n_events,"
            " round(sum(value), 4) AS sum_value"
            " FROM ev2 GROUP BY 1, 2"
        ),
        "enrich_streamed": (
            "WITH ev2 AS ("
            " SELECT ts, user_id, value FROM events"
            " UNION ALL SELECT TIMESTAMP '2030-01-01 00:00:00',"
            " -1, 0.0)"
            " SELECT date_trunc('hour', ts)::VARCHAR AS window_start,"
            " CASE WHEN user_id >= 0 THEN 'c' ||"
            " ((2654435761 * (user_id % 2147483647) + 2246822519)"
            " % 2147483647) % 3"
            " ELSE '(unknown)' END AS cohort,"
            " count(*)::BIGINT AS n_events,"
            " round(sum(value), 4) AS sum_value"
            " FROM ev2 GROUP BY 1, 2"
        ),
        "event_distinct_streamed": (
            "WITH ev2 AS ("
            " SELECT ts, event_type, user_id FROM events"
            " UNION ALL SELECT TIMESTAMP '2030-01-01 00:00:00',"
            " 'sentinel', -1)"
            " SELECT date_trunc('hour', ts)::VARCHAR AS window_start,"
            " event_type, count(*)::BIGINT AS n_events,"
            " count(DISTINCT user_id)::BIGINT AS n_users"
            " FROM ev2 GROUP BY 1, 2"
        ),
        "event_ewma": _event_ewma_sql(),
        "event_anomaly": _event_anomaly_sql(),
        "shard_idf_drift": _shard_idf_drift_sql(),
        "user_rfm": _rfm_sql(),
        "event_sessionize": """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, value FROM events),
lagged AS (
  SELECT *, lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt
  FROM e
),
flags AS (
  SELECT *,
         CASE WHEN pt IS NULL OR t - pt > 1800000000 THEN 1 ELSE 0 END AS ns
  FROM lagged
),
sess AS (
  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flags
)
SELECT user_id, sid::BIGINT AS session_id, count(*)::BIGINT AS n_events,
       min(t)::BIGINT AS start_us, max(t)::BIGINT AS end_us,
       round(sum(value), 4) AS sum_value
FROM sess GROUP BY 1, 2
""",
        # streamed == batch over (events + sentinel 1): the second
        # sentinel only drives flushing and its own open session is the
        # one row the stream withholds (see the gate's comment)
        "event_sessionize_streamed": """
WITH ev AS (
  SELECT event_id, ts, user_id, value FROM events
  UNION ALL
  SELECT 1000000000, TIMESTAMP '2030-01-01 00:00:00', -1, 0.0
),
e AS (SELECT user_id, event_id, epoch_us(ts) AS t, value FROM ev),
lagged AS (
  SELECT *, lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt
  FROM e
),
flags AS (
  SELECT *,
         CASE WHEN pt IS NULL OR t - pt > 1800000000 THEN 1 ELSE 0 END AS ns
  FROM lagged
),
sess AS (
  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flags
)
SELECT user_id, sid::BIGINT AS session_id, count(*)::BIGINT AS n_events,
       min(t)::BIGINT AS start_us, max(t)::BIGINT AS end_us,
       round(sum(value), 4) AS sum_value
FROM sess GROUP BY 1, 2
""",
        "vit_patches": _VIT_PATCH_SQL,
        "frame_sample_plan": (
            "SELECT doc_id,"
            " unnest(range(0, greatest(n_chars - 1, 0) + 1, 100))::BIGINT"
            " AS frame_ts_ms FROM documents"
        ),
    }
