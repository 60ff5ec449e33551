"""Seeded input generation: a code corpus, TREC-style topics and qrels.

Everything here is numpy + the standard library, so a change to the
engine cannot change the benchmark's inputs. The same seed gives
byte-identical inputs (``digest``).

Corpus rows are ``(doc_id, repo, path, commit, lang, content)``. Token
ranks are Zipf-distributed over an unbounded vocabulary whose word for
rank r is a pure function of r, so the vocabulary has a fixed head and a
tail that keeps growing with the corpus, as identifiers in code do.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np

ZIPF_A = 1.6
KEYWORD_SHARE = 0.15
MEAN_DOC_TOKENS = 80
HEAD_RANKS = 100       # ranks that count as head terms
HEAD_TOPIC_SHARE = 0.3  # share of topic terms drawn from the head
TOPIC_BLOCK = 50       # topics per block of equal make-up: one batch

LANGS = {
    "python": ("py", "def class return import from self none true false"
               " if else elif for while with as try except lambda yield"),
    "java": ("java", "public private static void class new return int"
             " string final import package this null extends implements"),
    "go": ("go", "func package import return var const type struct"
           " interface map chan defer err nil range go"),
    "javascript": ("js", "function const let var return this new null"
                   " undefined export import async await require"),
    "rust": ("rs", "fn let mut pub struct impl enum match use mod self"
             " return where trait crate unsafe"),
}
LANG_NAMES = sorted(LANGS)
_SYL = (
    "ka to ri sa mu ne lo pi da ve zu ho ta be ni go ru fe si pa"
    " wo ky dr ex in al or um st"
).split()
_SEPS = np.array([" ", " ", " ", "(", ")", ".", " = ", ", ", ";\n", "\n"])
_SIMPLE_SPLIT = re.compile(r"[^a-z0-9]+")


def word(rank: int) -> str:
    """The identifier for Zipf rank ``rank`` (1-based): its base-30
    syllable spelling, with a rank-dependent shape so some words are
    camelCase or snake_case (analyzers split those differently)."""
    syl, r = [], rank
    while True:
        syl.append(_SYL[r % len(_SYL)])
        r //= len(_SYL)
        if r == 0:
            break
    w = "".join(syl)
    if rank % 11 == 0 and len(syl) > 1:
        w = syl[0] + "_" + "".join(syl[1:])
    elif rank % 7 == 0:
        w = w[:2] + w[2:].capitalize()
    return w


def simple_terms(text: str) -> list[str]:
    """The benchmark's own tokenization: lowercase, split on [^a-z0-9]+."""
    return [t for t in _SIMPLE_SPLIT.split(text.lower()) if t]


def corpus(seed: int, stream: int, n_docs: int, first_id: int = 0) -> dict:
    """``n_docs`` documents as column lists; ``stream`` selects an
    independent shard of the same seed."""
    rng = np.random.default_rng([seed, stream])
    lens = np.clip(
        rng.lognormal(np.log(MEAN_DOC_TOKENS), 0.6, n_docs), 8, 600
    ).astype(np.int64)
    langs = rng.integers(0, len(LANG_NAMES), n_docs)
    repos = rng.integers(0, 40, n_docs)
    commits = rng.integers(0, 256, (n_docs, 20), dtype=np.uint8)
    cols = {k: [] for k in ("doc_id", "repo", "path", "commit", "lang",
                            "content")}
    vocab: dict[int, str] = {}
    for i in range(n_docs):
        lang = LANG_NAMES[langs[i]]
        ext, kw = LANGS[lang]
        kws = kw.split()
        n = int(lens[i])
        ranks = rng.zipf(ZIPF_A, n)
        is_kw = rng.random(n) < KEYWORD_SHARE
        kw_pick = rng.integers(0, len(kws), n)
        toks = []
        for r, k, p in zip(ranks.tolist(), is_kw.tolist(), kw_pick.tolist()):
            if k:
                toks.append(kws[p])
            else:
                w = vocab.get(r)
                if w is None:
                    w = vocab[r] = word(r)
                toks.append(w)
        seps = _SEPS[rng.integers(0, len(_SEPS), n)]
        content = "".join(t + s for t, s in zip(toks, seps.tolist()))
        cols["doc_id"].append(first_id + i)
        cols["repo"].append(f"org{repos[i] % 7}/repo{repos[i]}")
        cols["path"].append(f"src/{word(int(ranks[0]))}/f{i}.{ext}")
        cols["commit"].append(commits[i].tobytes().hex())
        cols["lang"].append(lang)
        cols["content"].append(content)
    return cols


def doc_freq(docs: dict) -> dict[str, int]:
    """term -> number of documents holding it, under ``simple_terms``."""
    df: dict[str, int] = {}
    for text in docs["content"]:
        for t in set(simple_terms(text)):
            df[t] = df.get(t, 0) + 1
    return df


def topics(seed: int, df: dict[str, int], n_topics: int) -> list[tuple[str, str]]:
    """[(qid, text)]: 2-5 distinct terms of the corpus whose document
    frequencies are ``df``. Topics come in blocks of TOPIC_BLOCK (one
    batch) that each hold the same work: topic lengths cycle through
    2, 3, 4, 5, a HEAD_TOPIC_SHARE of the block's terms come from the
    head (the HEAD_RANKS most frequent terms), one from each of as many
    equal rank strata of the head, and the rest from the other terms
    with df >= 2. Drawing head terms freely let a batch's summed df, and
    with it the scorer's work, differ by 2x between seeds."""
    rng = np.random.default_rng([seed, 1_000_003])
    by_df = sorted(df, key=lambda t: (-df[t], t))
    head = by_df[:HEAD_RANKS]
    tail = [t for t in by_df[HEAD_RANKS:] if df[t] >= 2]
    out = []
    while len(out) < n_topics:
        lengths = [2 + q % 4 for q in range(TOPIC_BLOCK)]
        n_head = round(HEAD_TOPIC_SHARE * sum(lengths))
        edges = np.linspace(0, len(head), n_head + 1).astype(int)
        slots = [head[int(rng.integers(lo, hi))]
                 for lo, hi in zip(edges[:-1], edges[1:])]
        slots += [None] * (sum(lengths) - n_head)
        order = rng.permutation(len(slots))
        slots = [slots[i] for i in order]
        lengths = [lengths[i] for i in rng.permutation(TOPIC_BLOCK)]
        for n in lengths:
            terms: list[str] = []
            for t in slots[:n]:
                # a tail slot, or a repeat, draws a fresh tail term
                while t is None or t in terms:
                    t = tail[int(rng.integers(0, len(tail)))]
                terms.append(t)
            slots = slots[n:]
            out.append((f"{len(out) + 1:03d}", " ".join(terms)))
    return out[:n_topics]


def qrels(seed: int, docs: dict, tops: list[tuple[str, str]]) -> list[tuple]:
    """[(qid, docid, rel)]: for each topic up to 30 judged documents among
    those sharing a term with it, graded by how many distinct topic terms
    they hold (rel 2 for >= 2, else 1 or 0 at random), plus two judged
    relevant documents that share no term (unreachable relevant docs
    keep recall below 1)."""
    rng = np.random.default_rng([seed, 2_000_003])
    holders: dict[str, list[int]] = {}
    for i, c in enumerate(docs["content"]):
        for t in set(simple_terms(c)):
            holders.setdefault(t, []).append(i)
    ids = docs["doc_id"]
    out = []
    for qid, text in tops:
        m: dict[int, int] = {}
        for t in set(text.split()):
            for i in holders.get(t, ()):
                m[i] = m.get(i, 0) + 1
        hits = sorted((c, i) for i, c in m.items())
        misses = [i for i in range(len(ids)) if i not in m]
        pick = rng.permutation(len(hits))[:30]
        for j in sorted(pick.tolist()):
            m, i = hits[j]
            rel = 2 if m >= 2 else int(rng.random() < 0.4)
            out.append((qid, str(ids[i]), rel))
        for j in rng.permutation(len(misses))[:2].tolist():
            out.append((qid, str(ids[misses[j]]), 1))
    return out


def digest(*parts) -> str:
    """sha256 over a canonical text rendering of generated inputs."""
    h = hashlib.sha256()
    for p in parts:
        h.update(repr(p).encode("utf-8"))
    return h.hexdigest()
