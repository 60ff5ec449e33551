"""Text analysis: the tokenization "projection" of the engine.

Re-expresses the reference's analyzer chain (reference:
indexing/TrecDocIndexer.java:78-88 — StandardTokenizer -> English
possessive strip -> lowercase -> stop filter -> Porter stem; variant
without stemming at evaluator/RCDEvaluator.java:26-27; char n-gram
analyzer at evaluator/NGramAnalyzer.java:23-37) as:

- a pure, testable batch function ``analyze_series`` (pandas in/out),
- an Arrow-vectorized pandas UDF factory ``tokens_udf`` for the
  distributed path (no per-row Python crossing the JVM boundary —
  one Arrow batch in, one out),
- ``simple_tokens`` — a 100% JVM-side (whole-stage-codegen) tokenizer
  built from ``split``/``lower``/``array_remove`` for SQL-parity paths
  where the DuckDB oracle must reproduce tokenization exactly.

Tokenizer modes:
- ``english``  : UAX#29-style word tokens + possessive strip + lowercase
                 + stopwords + Porter (the reference's default pipeline)
- ``standard`` : same minus stemming, default stop set (the reference's
                 StandardAnalyzer uses)
- ``simple``   : lowercase, split on non-[a-z0-9] (SQL-expressible)
- ``whitespace``: split on whitespace only
"""

from __future__ import annotations

from dataclasses import dataclass, field
import re
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .porter import make_cached_stemmer
from .stopwords import resolve_stopwords

# UAX#29-style word tokens (ASCII-centric approximation, documented
# divergence: full Unicode word-break classes are not replicated):
# runs of word chars, optionally joined by ' / ’ / . when flanked by word
# chars ("don't", "3.14", "example.com" stay single tokens; hyphens split).
_WORD_RE = re.compile(r"\w+(?:['’.]\w+)*", re.UNICODE)
_WS_RE = re.compile(r"\S+")
_SIMPLE_SPLIT = "[^a-z0-9]+"
_POSSESSIVE = ("'s", "'S", "’s", "’S")

_MISSING = object()


@dataclass(frozen=True)
class AnalyzerConfig:
    """Configuration for the analyzer chain (hashable, broadcast-safe)."""

    mode: str = "english"
    stopwords: frozenset[str] = field(default=None)  # type: ignore[assignment]
    lowercase: bool = True

    def __post_init__(self):
        if self.mode not in ("english", "standard", "simple", "whitespace"):
            raise ValueError(f"unknown analyzer mode: {self.mode}")
        if self.stopwords is None and self.mode in ("english", "standard"):
            object.__setattr__(self, "stopwords", resolve_stopwords(None))
        elif self.stopwords is None:
            object.__setattr__(self, "stopwords", frozenset())

    @property
    def stem(self) -> bool:
        return self.mode == "english"


def make_config(
    mode: str = "english",
    stopwords: None | str | Iterable[str] = None,
    lowercase: bool = True,
) -> AnalyzerConfig:
    return AnalyzerConfig(
        mode=mode,
        stopwords=resolve_stopwords(stopwords) if stopwords is not None else None,
        lowercase=lowercase,
    )


def _make_token_transform(cfg: AnalyzerConfig):
    """raw token -> final token or None (dropped); memoize per batch."""
    stop = cfg.stopwords
    stemmer = make_cached_stemmer() if cfg.stem else None
    strip_possessive = cfg.mode == "english"
    lower = cfg.lowercase

    def transform(tok: str):
        if strip_possessive and tok.endswith(_POSSESSIVE):
            tok = tok[:-2]
            if not tok:
                return None
        if lower:
            tok = tok.lower()
        if tok in stop:
            return None
        if stemmer is not None:
            tok = stemmer(tok)
        return tok

    return transform


def analyze_series(texts: pd.Series, cfg: AnalyzerConfig) -> pd.Series:
    """Vectorized batch analyzer: Series[str] -> Series[list[str]].

    Tokenizes with the C regex engine via the pandas str accessor, then
    normalizes each *unique* token once per batch (memoized) — on
    repetitive corpora (code, prose) this is ~|vocab| work, not |tokens|.
    """
    if cfg.mode == "simple":
        lists = texts.fillna("").str.lower().str.findall("[a-z0-9]+")
        return lists
    pat = _WS_RE if cfg.mode == "whitespace" else _WORD_RE
    token_lists = texts.fillna("").str.findall(pat)
    transform = _make_token_transform(cfg)
    cache: dict[str, object] = {}
    out = []
    for toks in token_lists:
        res = []
        for t in toks:
            v = cache.get(t, _MISSING)
            if v is _MISSING:
                v = transform(t)
                cache[t] = v
            if v is not None:
                res.append(v)
        out.append(res)
    return pd.Series(out, index=texts.index)


def analyze_text(text: str, cfg: AnalyzerConfig | None = None) -> list[str]:
    """Single-string convenience (driver-side query analysis, tests)."""
    cfg = cfg or AnalyzerConfig()
    return list(analyze_series(pd.Series([text]), cfg).iloc[0])


def tokens_udf(cfg: AnalyzerConfig | None = None):
    """Arrow-vectorized pandas UDF: content:string -> tokens:array<string>."""
    cfg = cfg or AnalyzerConfig()

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _tokens(texts: pd.Series) -> pd.Series:
        return analyze_series(texts, cfg)

    return _tokens


def simple_tokens(col: Column | str) -> Column:
    """JVM-side tokenizer: lowercase + split on non-alphanumeric.

    Stays inside whole-stage codegen (no Python, no Arrow transfer) and is
    exactly reproducible in ANSI SQL — used by the oracle-checked paths.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(F.lower(c), _SIMPLE_SPLIT), "")


SIMPLE_TOKENS_DUCKDB = (
    "list_filter(regexp_split_to_array(lower({col}), '[^a-z0-9]+'),"
    " x -> x <> '')"
)


def char_ngrams(text: str, n: int) -> list[str]:
    s = (text or "").lower()
    return [s[i : i + n] for i in range(len(s) - n + 1)]
