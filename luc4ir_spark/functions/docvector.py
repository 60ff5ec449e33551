"""Sparse bag-of-tokens similarity kernels.

Re-expresses the reference's DocVector similarity surface (reference:
evaluator/DocVector.java:116-230 — cosine :135-147, idf-weighted cosine
:149-168, jaccard :175-183, BLEU-precision :200-214, ROUGE-recall
:216-230, METEOR :192-197) as pure functions over token lists plus a
row-wise Arrow UDF for DataFrame use, and the char-n-gram BLEU evaluator
of the RCD task (reference: evaluator/RCDEvaluator.java:90-157 —
weighted n/12 average of char-n-gram cosines for n=3..5; golden value
0.16270196 documented at rcd/README.md:23-26).
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .analysis import char_ngrams

RCD_NGRAM_RANGE = (3, 5)  # n = 3..5, weights n/12


def cosine(a: list[str], b: list[str]) -> float:
    ca, cb = Counter(a), Counter(b)
    dot = sum(v * cb.get(k, 0) for k, v in ca.items())
    na = math.sqrt(sum(v * v for v in ca.values()))
    nb = math.sqrt(sum(v * v for v in cb.values()))
    return dot / (na * nb) if na > 0 and nb > 0 else 0.0


def idf_cosine(a: list[str], b: list[str], idf: dict[str, float]) -> float:
    """Cosine with tf*idf weights (unknown terms weight 0)."""
    ca = {k: v * idf.get(k, 0.0) for k, v in Counter(a).items()}
    cb = {k: v * idf.get(k, 0.0) for k, v in Counter(b).items()}
    dot = sum(v * cb.get(k, 0.0) for k, v in ca.items())
    na = math.sqrt(sum(v * v for v in ca.values()))
    nb = math.sqrt(sum(v * v for v in cb.values()))
    return dot / (na * nb) if na > 0 and nb > 0 else 0.0


def jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = set(a), set(b)
    u = len(sa | sb)
    return len(sa & sb) / u if u else 0.0


def _clipped_overlap(pred: Counter, ref: Counter) -> int:
    return sum(min(v, ref.get(k, 0)) for k, v in pred.items())


def bleu_precision(pred: list[str], ref: list[str]) -> float:
    """Modified unigram precision: clipped matches / |pred|."""
    cp = Counter(pred)
    n = sum(cp.values())
    return _clipped_overlap(cp, Counter(ref)) / n if n else 0.0


def rouge_recall(pred: list[str], ref: list[str]) -> float:
    """Clipped matches / |ref| — the recall counterpart."""
    cr = Counter(ref)
    n = sum(cr.values())
    return _clipped_overlap(Counter(pred), cr) / n if n else 0.0


def meteor(pred: list[str], ref: list[str], alpha: float = 9.0) -> float:
    """METEOR F-mean: P*R*(1+alpha) / (R + alpha*P) (harmonic mean
    weighted toward recall, the classic 10PR/(R+9P) with alpha=9)."""
    p = bleu_precision(pred, ref)
    r = rouge_recall(pred, ref)
    if p == 0.0 or r == 0.0:
        return 0.0
    return (1 + alpha) * p * r / (r + alpha * p)


def rcd_char_bleu(pred_text: str, ref_text: str) -> float:
    """Char-n-gram BLEU of the RCD task: sum over n=3..5 of
    (n/12) * cosine(char n-grams)."""
    lo, hi = RCD_NGRAM_RANGE
    total = 0.0
    for n in range(lo, hi + 1):
        total += (n / 12.0) * cosine(
            char_ngrams(pred_text, n), char_ngrams(ref_text, n)
        )
    return total


def rcd_bleu_udf():
    """Row-wise Arrow UDF: (pred string, ref string) -> double."""

    @F.pandas_udf(T.DoubleType())
    def _sim(pred: pd.Series, ref: pd.Series) -> pd.Series:
        return pd.Series(
            [rcd_char_bleu(p or "", r or "") for p, r in zip(pred, ref)]
        )

    return _sim


def rcd_evaluate(pairs, pred_col: str = "pred", ref_col: str = "ref",
                 group_col: str | None = None,
                 order_col: str | None = None):
    """RCD evaluation over a DataFrame of (pred, ref[, group]) rows:
    with ``group_col``, equivalence-class members are CONCATENATED
    (space-joined, in ``order_col`` order — the reference merges the
    pred/rel texts of a query-equivalence class into one string before
    scoring, RCDEvaluator.java:107-133) and one char-n-gram BLEU is
    computed per group; returns the mean as one row (the golden-value
    shape of rcd/README.md). Texts should be pre-analyzed (the
    reference n-grams StandardAnalyzer output). Double-precision
    distributed variant; for bit-exact parity with the reference's
    float32 accumulation use ``rcd_reference_eval``."""
    if group_col:
        ob = F.col(order_col) if order_col else F.col(pred_col)
        merged = (
            pairs.groupBy(group_col)
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(ob.alias("o"),
                                            F.col(pred_col).alias("p"),
                                            F.col(ref_col).alias("r")))
                ).alias("m")
            )
            .select(
                F.col(group_col),
                F.array_join(
                    F.transform(F.col("m"), lambda s: s["p"]), " "
                ).alias(pred_col),
                F.array_join(
                    F.transform(F.col("m"), lambda s: s["r"]), " "
                ).alias(ref_col),
            )
        )
    else:
        merged = pairs
    sim = rcd_bleu_udf()(F.col(pred_col), F.col(ref_col)).alias("sim")
    return merged.select(sim).agg(F.avg("sim").alias("bleu"))


# ---- bit-faithful reference RCD evaluator (golden-value parity) ----

# rcd/README.md:23-26 publishes BLEU = 0.16270196 for
# `./eval.sh nqc.tsv task1_test.rel`. That exact number is NOT
# reproducible from the committed reference data: rcd/pred_rel.txt (an
# intermediate of an earlier eval.sh run) records rel text for query 43
# as "lords of hell alastor azazel" while today's task1_test.rel says
# "of hell! Alastor! Azazel!" — the ground-truth file drifted after the
# README was written (a parameter grid over stop sets / tokenization /
# rel variants brackets but never hits the published value; see
# tests/test_reference_artifacts.py). RCD_PINNED_BLEU is the
# reproducible value of the faithful pipeline on the committed data,
# asserted bit-for-bit as a regression.
RCD_GOLDEN_BLEU = 0.16270196
RCD_PINNED_BLEU = 0.16596353


def _java_hashmap_order(keys: list[str]) -> list[str]:
    """Iteration order of java.util.HashMap<String,?> after inserting
    ``keys`` in order (OpenJDK 8+, default capacity 16 / load factor
    .75): buckets in table order, insertion order within a bucket;
    resizes split chains preserving relative order. The reference
    evaluator iterates equivQueries.values() while accumulating float32
    sums, so exact parity needs this order."""
    def jhash(s: str) -> int:
        h = 0
        for ch in s:
            h = (h * 31 + ord(ch)) & 0xFFFFFFFF
        return h

    cap, threshold = 16, 12
    for n in range(1, len(keys) + 1):
        if n > threshold:
            cap *= 2
            threshold = cap * 3 // 4
    def bucket(s: str) -> int:
        h = jhash(s)
        return (h ^ (h >> 16)) & (cap - 1)

    return [k for _, _, k in sorted(
        (bucket(k), i, k) for i, k in enumerate(keys)
    )]


def _f32_ngram_cosine(pred: str, ref: str, n: int):
    """DocVector.cosineSim (evaluator/DocVector.java:135-147) over char
    n-grams, float32 arithmetic: integer tf sums are exact below 2^24,
    docLen is (float)Math.sqrt(double), final ratio is a float32 op."""
    import numpy as np

    ca, cb = Counter(char_ngrams(pred, n)), Counter(char_ngrams(ref, n))
    dlen = np.float32(math.sqrt(float(sum(v * v for v in ca.values()))))
    qlen = np.float32(math.sqrt(float(sum(v * v for v in cb.values()))))
    if dlen == 0 or qlen == 0:
        return np.float32(0.0)
    sim = np.float32(sum(v * cb.get(k, 0) for k, v in ca.items()))
    return sim / (dlen * qlen)


def rcd_reference_eval(pred_rel: dict, equiv_groups: list[list[str]]):
    """Bit-faithful reimplementation of the reference RCD Task-1
    evaluator (evaluator/RCDEvaluator.java:90-157 + eval.sh): analyze
    pred/rel with the StandardAnalyzer equivalent (UAX#29-ish word
    tokens, lowercase, NO stop set — Lucene >= 7 StandardAnalyzer()
    defaults to an empty stopword set), merge each equivalence class by
    concatenation (class skipped unless EVERY member id has a
    prediction), re-analyze the merged strings, score char-n-gram
    cosine for n = 3..5, and average with float32 accumulation in the
    reference's HashMap iteration order. BLEU = sum of (n/12) * avg_n.

    pred_rel: {id: (pred_text, rel_text)};
    equiv_groups: list of id lists (line i of equiv.txt -> key Q{i+1}).
    Returns numpy.float32 — equal to RCD_PINNED_BLEU on the committed
    nqc.tsv x task1_test.rel x equiv.txt inputs (see the drift note on
    RCD_GOLDEN_BLEU above)."""
    import numpy as np

    from .analysis import AnalyzerConfig, analyze_text

    cfg = AnalyzerConfig(mode="standard", stopwords=frozenset())

    def analyzed(s: str) -> str:
        return " ".join(analyze_text(s, cfg))

    pairs = {
        k: (analyzed(p), analyzed(r)) for k, (p, r) in pred_rel.items()
    }
    keys = [f"Q{i + 1}" for i in range(len(equiv_groups))]
    by_key = dict(zip(keys, equiv_groups))
    merged: list[tuple[str, str]] = []
    for key in _java_hashmap_order(keys):
        group = by_key[key]
        if any(q not in pairs for q in group):
            continue  # reference skips classes with any missing member
        pred = " ".join(pairs[q][0] for q in group).strip()
        ref = " ".join(pairs[q][1] for q in group).strip()
        # the merged strings pass through the analyzer once more
        # (PredRelPair constructor re-analyzes)
        merged.append((analyzed(pred), analyzed(ref)))

    wavg = np.float32(0.0)
    n_sum = np.float32(12.0)  # 3+4+5
    for n in range(3, 6):
        avg = np.float32(0.0)
        for pred, ref in merged:
            avg += _f32_ngram_cosine(pred, ref, n)
        avg = avg / np.float32(len(merged))
        w = np.float32(np.float32(n) / n_sum)
        wavg += w * avg
    return wavg
