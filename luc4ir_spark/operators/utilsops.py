"""Utility operators: destemmer, sampling, norm quantization.

- Destemmer (reference: genutils/Destemmer.java:38-71): map a stem back
  to the alphabetically-first vocabulary word with that prefix. The
  reference scans 26 per-letter TreeSets; the relational form is a
  prefix theta-join bucketed by first letter so the join is an
  equi-join plus a cheap startswith filter.
- Samplers (reference: genutils/UniqueSampler.java:6-47): uniform and
  weighted without-replacement sampling as DataFrame ops.
- SmallFloat-style norm quantization (reference delegates to its index
  library, which stores doc length lossily in ONE byte and decodes at
  query time — our exact int64 doc_len is the default; this optional
  mode reproduces 1-byte-style quantization for score-parity studies
  with engines that quantize).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def destem(stems: DataFrame, vocab: DataFrame) -> DataFrame:
    """stems(stem) x vocab(word) -> (stem, word): the alphabetically
    first vocabulary word starting with each stem.

    Planned as an EXACT equi-join: each vocabulary word is expanded to
    one prefix row per distinct stem length (a handful — Porter stems
    span ~2..15 chars), then prefix == stem is a plain hash join. Work
    is |vocab| x |distinct stem lengths| — linear, unlike a
    first-letter bucket theta-join whose per-letter candidate set is
    |stems_l| x |vocab_l| (quadratic inside every letter at real
    vocabulary sizes)."""
    s = stems.select("stem").distinct()
    lengths = s.select(F.length("stem").alias("plen")).distinct()
    v = vocab.select("word").distinct()
    expanded = (
        v.crossJoin(F.broadcast(lengths))
        .filter(F.length("word") >= F.col("plen"))
        .select(
            F.expr("substring(word, 1, plen)").alias("stem"), "word"
        )
    )
    return (
        s.join(expanded, "stem")
        .groupBy("stem")
        .agg(F.min("word").alias("word"))
    )


def _row_hash(df: DataFrame, seed: int, key_cols: list[str] | None):
    """Stable per-row hash from row CONTENT (never
    monotonically_increasing_id, which depends on partition layout —
    'deterministic given seed' must hold across repartitioning and
    cluster sizes)."""
    cols = key_cols or df.columns
    return F.xxhash64(F.lit(seed), *[F.col(c) for c in cols])


def consistent_hash_assign(
    docs: DataFrame,
    node_points: list,
    id_col: str = "doc_id",
    ring_bits: int = 60,
) -> DataFrame:
    """Consistent-hashing ring assignment (Karger et al. STOC'97) —
    the shard-routing scheme that makes cluster resizes move only
    ~1/(N+1) of the keys: each node owns one point on a 2^ring_bits
    ring, a doc hashes to its position (the repo's portable md5-60bit
    of the id string) and is owned by the first node point clockwise
    (wrapping past the top). ``node_points`` is [(node_id, point),
    ...] — literals computed driver-side (e.g. md5 of the node name)
    so any engine replays them. -> (doc_id, node_id).

    Plan shape: one BROADCAST cross join docs × N points with the
    wrap handled arithmetically (candidate = point + span when the
    point is behind the doc) and a map-side min(struct) argmin — one
    shuffle by doc id, no windows. Virtual nodes = more (node, point)
    rows through the same plan."""
    spark = docs.sparkSession
    span = 1 << int(ring_bits)
    nodes = spark.createDataFrame(
        [(str(n), int(p)) for n, p in node_points],
        "node_id string, point long",
    )
    pos = F.pmod(
        F.expr(
            f"conv(substr(md5(CAST({id_col} AS STRING)), 1, 15), 16, 10)"
        ).cast("long"),
        F.lit(span),
    )
    keyed = docs.select(F.col(id_col).alias("doc_id"), pos.alias("_pos"))
    cand = keyed.crossJoin(F.broadcast(nodes)).select(
        "doc_id",
        "node_id",
        F.when(
            F.col("point") >= F.col("_pos"), F.col("point")
        ).otherwise(F.col("point") + F.lit(span)).alias("_eff"),
    )
    return (
        cand.groupBy("doc_id")
        .agg(
            F.min(
                F.struct(
                    F.col("_eff").alias("e"), F.col("node_id").alias("n")
                )
            ).alias("_m")
        )
        .select("doc_id", F.col("_m.n").alias("node_id"))
    )


def rendezvous_assign(
    docs: DataFrame,
    nodes: list,
    id_col: str = "doc_id",
) -> DataFrame:
    """Rendezvous / highest-random-weight hashing (Thaler &
    Ravishankar, IEEE ToN'98) — the OTHER minimal-disruption placement
    scheme next to the consistent-hashing ring: every (key, node) pair
    gets a deterministic pseudo-random weight and the key goes to the
    argmax node. Removing a node remaps exactly the keys it owned and
    nothing else, with NO ring geometry and no vnode balancing pass —
    per-node load is binomial-even by construction (what the ring
    needs ``vnode_ring_balance`` to approximate).

    ``nodes`` = [(node_id, salt)] literal pairs computed driver-side;
    weight = mix(doc_id * 2^20 + salt) — the portable mix hash, so any
    engine replays the placement bit-for-bit (doc_id < 2^43, salt <
    2^20). Ties (astronomically rare, possible since mix has 2^31
    values) go to the LARGER node_id via the lexicographic struct max.
    -> (doc_id, node_id).

    Plan shape: one BROADCAST cross join docs × N nodes + a map-side
    max(struct) argmax grouped by doc id — same silhouette as
    ``consistent_hash_assign``, minus the wrap arithmetic."""
    from ..functions.hashing import mix_id_expr

    spark = docs.sparkSession
    ndf = spark.createDataFrame(
        [(str(n), int(s)) for n, s in nodes],
        "node_id string, salt long",
    )
    cand = docs.select(F.col(id_col).alias("doc_id")).crossJoin(
        F.broadcast(ndf)
    ).select(
        "doc_id",
        "node_id",
        mix_id_expr(
            F.col("doc_id") * F.lit(1 << 20) + F.col("salt")
        ).alias("_w"),
    )
    return (
        cand.groupBy("doc_id")
        .agg(
            F.max(
                F.struct(
                    F.col("_w").alias("w"), F.col("node_id").alias("n")
                )
            ).alias("_m")
        )
        .select("doc_id", F.col("_m.n").alias("node_id"))
    )


def sample_uniform(
    df: DataFrame, n: int, seed: int = 42, key_cols: list[str] | None = None
) -> DataFrame:
    """n rows uniformly without replacement, deterministic given (seed,
    row content). ORDER BY hash LIMIT n plans as TakeOrderedAndProject
    (per-partition top-n heap + driver merge of n*partitions rows) — no
    global sort, no single-reducer window. ``key_cols``: columns that
    identify a row (default all); rows identical on them tie and the
    tie-winner among exact duplicates is arbitrary."""
    key = _row_hash(df, seed, key_cols)
    return df.withColumn("_k", key).orderBy("_k").limit(n).drop("_k")


def sample_hash_stratified(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
    default_rate: float = 0.0,
    resolution: int = 10000,
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sampling by hash bucket: a
    row survives iff ``pmod(mix(id + seed), resolution) <
    rate * resolution`` for its stratum's rate. This is the sampler a
    100 TB pipeline actually wants — a pure scan-local filter (no
    shuffle, no sort, no count pass), reproducible across runs,
    cluster sizes, and engines (``mix`` is the engine-portable hash from
    functions/hashing.py, replayable in plain SQL), and consistent:
    re-running with a higher rate yields a superset, so corpus mixes
    can be re-weighted without resampling from scratch. Strata absent
    from ``rates`` use ``default_rate``. Complements the exact-n
    samplers above (reference: genutils/UniqueSampler.java:6-47), which
    need a top-n merge; rate-based is the scalable form for corpus
    mixing (e.g. downsample boilerplate-heavy sources)."""
    from ..functions.hashing import mix_id_expr

    thresh = F.lit(int(round(default_rate * resolution)))
    for k in sorted(rates):
        thresh = F.when(
            F.col(stratum_col) == k,
            F.lit(int(round(rates[k] * resolution))),
        ).otherwise(thresh)
    bucket = F.pmod(
        mix_id_expr(F.col(id_col) + F.lit(seed)), F.lit(resolution)
    )
    return df.filter(bucket < thresh)


def sample_stratum_cap(
    df: DataFrame,
    cap: int,
    stratum_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Per-stratum hard cap: keep at most ``cap`` rows per stratum —
    the ones with the smallest ``mix(id + seed)`` (a uniform
    pseudo-random draw, deterministic across runs, cluster sizes, and
    engines; ties broken by id). This is the crawl-pipeline
    "per-domain cap" that bounds any one source's share of a training
    corpus regardless of its raw size, complementing the rate-based
    sampler above (``sample_hash_stratified`` scales every stratum;
    the cap bounds the heavy tail — a 10^9-page domain still
    contributes exactly ``cap``).

    Plan shape at scale: a ``row_number() <= cap`` filter over a
    per-stratum window, which Spark rewrites to WindowGroupLimit — a
    map-side partial top-``cap`` per input partition BEFORE the
    stratum shuffle — so the wire carries at most ``cap`` rows per
    stratum per partition, never a mega-domain's full row set."""
    from ..functions.hashing import mix_id_expr

    w = Window.partitionBy(stratum_col).orderBy(
        mix_id_expr(F.col(id_col) + F.lit(seed)).asc(),
        F.col(id_col).asc(),
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.lit(cap))
        .drop("_rn")
    )


def quantize_doc_len(dl: Column, mantissa_bits: int = 4) -> Column:
    """Lossy 1-byte-style length quantization: values are floored to a
    float with ``mantissa_bits`` of mantissa (exact below
    2^(mantissa_bits+1), progressively coarser above) — the shape of a
    SmallFloat-encoded norm. ``mantissa_bits=3`` reproduces Lucene 8's
    SmallFloat.intToByte4 norm roundtrip EXACTLY (verified value-for-
    value in tests/test_lucene_parity.py). Optional parity mode; the
    default engine path keeps exact int64 lengths."""
    bits = F.floor(F.log2(F.greatest(dl.cast("double"), F.lit(1.0))))
    step = F.pow(
        F.lit(2.0), F.greatest(bits - mantissa_bits, F.lit(0).cast("double"))
    )
    return (F.floor(dl.cast("double") / step) * step).cast("long")


def sample_token_budget(
    df: DataFrame,
    budget_tokens: int,
    stratum_col: str,
    content_col: str = "content",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Token-budget sampler: keep docs per stratum (source / domain /
    language) until a TOKEN budget is exhausted — how a training-mix
    recipe ("x billion tokens of web, y of code") is actually cut,
    where the per-doc cap (`sample_stratum_cap`) counts documents
    instead. Docs are taken in ``mix(id + seed)`` order (deterministic,
    uniform even for structured ids); a doc is kept iff it FITS —
    running total including it <= budget — so the kept set is
    reproducible on any engine with a window sum, no driver state.

    Plan shape: per-stratum window over (mix, id) — strata are the unit
    of parallelism, no global sort; the token count is a codegen
    projection. -> (id, stratum, n_tokens, cum_tokens kept rows only).
    """
    from pyspark.sql import Window

    from ..functions.hashing import mix_id_expr

    n_tok = F.size(
        F.array_remove(F.split(F.trim(F.col(content_col)), r"\s+"), "")
    ).cast("long")
    key = mix_id_expr(F.col(id_col) + F.lit(int(seed)))
    per = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(stratum_col).alias("stratum"),
        n_tok.alias("n_tokens"),
        key.alias("_key"),
    )
    w = (
        Window.partitionBy("stratum")
        .orderBy(F.col("_key").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        per.withColumn(
            "cum_tokens", F.sum("n_tokens").over(w).cast("long")
        )
        .filter(F.col("cum_tokens") <= F.lit(int(budget_tokens)))
        .select("doc_id", "stratum", "n_tokens", "cum_tokens")
    )


def sample_by_score(
    df: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
    resolution: int = 10000,
) -> DataFrame:
    """Deterministic importance sampling: keep each row with
    probability equal to its per-row ``score_col`` in [0, 1] — the
    quality-weighted soft-sampling step of DCLM/RefinedWeb-style
    pipelines (better documents survive more often, bad ones still get
    a chance), as a pure scan-local filter:
    ``pmod(mix(id + seed), resolution) < floor(score·resolution)``.
    Same engine-portable mix as ``sample_hash_stratified`` — no
    shuffle, reproducible across runs/cluster sizes/engines, and
    CONSISTENT: raising a row's score can only add it, so re-weighted
    quality models produce supersets where scores only improved.
    Scores outside [0, 1] degrade gracefully (<=0 never kept, >=1
    always kept)."""
    from ..functions.hashing import mix_id_expr

    cut = F.floor(
        F.col(score_col) * F.lit(float(resolution))
    ).cast("long")
    bucket = F.pmod(
        mix_id_expr(F.col(id_col) + F.lit(seed)), F.lit(resolution)
    )
    return df.filter(bucket < cut)


def sample_temperature_mix(
    df: DataFrame,
    budget_tokens: int,
    stratum_col: str = "source",
    content_col: str = "content",
    id_col: str = "doc_id",
    seed: int = 0,
    resolution: int = 10000,
) -> DataFrame:
    """Temperature (alpha-smoothed) mixture sampling — the XLM /
    GPT-3 / PaLM corpus-mixing rule (Conneau & Lample 2019): target
    share p_s proportional to n_s^alpha with alpha = 1/2, so rare
    sources are upweighted relative to their raw token mass; each
    source then keeps rate r_s = min(1, budget * p_s / n_s) of its
    rows via the scan-local mix-hash Bernoulli (the
    ``sample_hash_stratified`` rule).

    Exactness: n_s^(1/2) is taken as the INTEGER square root, so the
    keep threshold floor(resolution * budget * isqrt(n_s) /
    (sum_t isqrt(n_t) * n_s)) is pure integer arithmetic — bit-equal
    on any engine (IEEE sqrt is correctly rounded, so
    floor(sqrt(bigint)) == isqrt below 2^52; the driver uses Python's
    exact ``math.isqrt``). No float ever reaches the keep comparison.

    Plan: one map-side token-count aggregation (|sources| rows
    collected to the driver — a scalar-sized action), then a pure
    scan-local filter: no shuffle, no sort, reproducible across runs
    and cluster sizes, and monotone in budget (a bigger budget keeps a
    superset). -> the kept rows of ``df``."""
    import math

    from ..functions.hashing import mix_id_expr

    toks = F.size(
        F.array_remove(
            F.split(F.lower(F.col(content_col)), "[^a-z0-9]+"), ""
        )
    ).cast("long")
    stats = (
        df.groupBy(stratum_col)
        .agg(F.sum(toks).alias("n_s"))
        .collect()
    )
    sizes = {
        r[stratum_col]: int(r["n_s"]) for r in stats if r["n_s"]
    }
    if not sizes:
        return df.limit(0)
    roots = {k: math.isqrt(n) for k, n in sizes.items()}
    s_tot = sum(roots.values())
    thresh_map = {
        k: min(
            int(resolution),
            (int(resolution) * int(budget_tokens) * roots[k])
            // (s_tot * sizes[k]),
        )
        for k in sizes
    }
    thresh = F.lit(0)
    for k in sorted(thresh_map):
        thresh = F.when(
            F.col(stratum_col) == k, F.lit(thresh_map[k])
        ).otherwise(thresh)
    bucket = F.pmod(
        mix_id_expr(F.col(id_col) + F.lit(int(seed))),
        F.lit(int(resolution)),
    )
    return df.filter(bucket < thresh)


def assign_splits(
    df: DataFrame,
    val_frac: float = 0.1,
    test_frac: float = 0.1,
    id_col: str = "doc_id",
    seed: int = 0,
    resolution: int = 10000,
) -> DataFrame:
    """Deterministic train/val/test split assignment by hash bucket —
    the reproducible alternative to randomSplit (whose outcome depends
    on partitioning): a row's split is a pure function of its id, so
    the assignment is stable across runs, cluster sizes, engines, and
    INCREMENTAL INGESTION (new rows join a split without reshuffling
    old ones — the property eval-set hygiene actually needs):

        bucket = pmod(mix(id + seed), resolution)
        test:  bucket <  floor(test_frac * resolution)
        val:   next  floor(val_frac * resolution) buckets
        train: the rest

    -> df + a ``split`` string column. Scan-local projection: no
    shuffle, no count pass, no state."""
    from ..functions.hashing import mix_id_expr

    t = int(round(test_frac * resolution))
    v = int(round(val_frac * resolution))
    bucket = F.pmod(
        mix_id_expr(F.col(id_col) + F.lit(int(seed))),
        F.lit(int(resolution)),
    )
    split = (
        F.when(bucket < t, F.lit("test"))
        .when(bucket < t + v, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)


def sample_weighted(
    df: DataFrame,
    n: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement — Efraimidis & Spirakis
    (IPL 2006) A-ES: each row gets priority key u^(1/w) with u uniform
    in (0, 1], and the n largest keys are the sample (inclusion
    probability proportional to weight). u is DETERMINISTIC from the
    portable mix hash — u = (mix(id + seed) + 1) / P — so the sample
    is a pure function of (ids, weights, seed), reproducible across
    runs, cluster sizes, and engines.
    -> (doc_id, weight, key, rank), rank <= n by (key DESC, id ASC).

    Scale: the top-n runs as TakeOrderedAndProject (per-partition
    partial top-n, one tiny final merge — A-ES keys are order
    statistics, so shard-top-n then merge is exact); the rank window
    touches only the n survivors. No global sort, no state."""
    from ..functions.hashing import MIX_P, mix_id_expr

    w = F.greatest(F.col(weight_col).cast("double"), F.lit(1.0))
    u = (
        mix_id_expr(F.col(id_col) + F.lit(int(seed))) + F.lit(1)
    ).cast("double") / F.lit(float(MIX_P))
    keyed = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(weight_col).cast("long").alias("weight"),
        F.pow(u, F.lit(1.0) / w).alias("key"),
    )
    top = keyed.orderBy(
        F.col("key").desc(), F.col("doc_id").asc()
    ).limit(int(n))
    rw = Window.orderBy(F.col("key").desc(), F.col("doc_id").asc())
    return top.withColumn(
        "rank", F.row_number().over(rw).cast("long")
    ).select("doc_id", "weight", F.round("key", 4).alias("key"), "rank")


def unimax_alloc(
    sources: DataFrame,
    budget_tokens: int,
    max_epochs: int = 2,
    source_col: str = "source",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """UniMax corpus-mixing allocation (Chung, Garcia, Tay et al.,
    "UniMax: Fairer and More Effective Language Sampling", ICLR 2023)
    — the epoch-capped waterfilling that replaced temperature sampling
    for multilingual pretraining mixes, completing the mixing family
    next to `sample_temperature_mix`/`sample_token_budget`: distribute
    ``budget_tokens`` across sources so that no source is repeated
    more than ``max_epochs`` times; the budget freed by small (capped)
    sources is split EQUALLY among the rest.

    Waterfilling in ascending capacity order (cap_i = n_tokens_i ·
    max_epochs) makes the capped set a PREFIX of that order, so the
    whole allocation is relational — no driver loop:

      ok_k      = cap_k · (n − k + 1) <= B − Σ_{j<k} cap_j   (integer
                  cross-multiplication — exact)
      is_capped = cumulative AND of ok  (min over the running window)
      alloc     = cap (capped)  |  (B − Σ capped caps)/(n − #capped)

    -> (source, n_tokens, cap, is_capped, alloc_tokens, epochs), the
    two floats 4dp-rounded after ONE division each.

    Plan shape: windows and aggregates over the SOURCES-sized relation
    (tens to a few thousand rows — languages, domains, crawls); the
    corpus-scale token counting happens upstream. The documented
    small-relation global-window exception applies."""
    b = int(budget_tokens)
    e = int(max_epochs)
    base = sources.select(
        F.col(source_col).alias("source"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
    ).withColumn("cap", (F.col("n_tokens") * F.lit(e)).cast("long"))
    w = Window.orderBy(F.col("cap").asc(), F.col("source").asc())
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    n_tot = F.count(F.lit(1)).over(
        Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    ranked = base.select(
        "source",
        "n_tokens",
        "cap",
        F.row_number().over(w).alias("_k"),
        F.sum("cap").over(wcum).alias("_cum"),
        n_tot.alias("_n"),
    ).withColumn(
        "_ok",
        (
            F.col("cap") * (F.col("_n") - F.col("_k") + 1)
            <= F.lit(b) - (F.col("_cum") - F.col("cap"))
        ).cast("int"),
    )
    flagged = ranked.withColumn(
        "is_capped", F.min("_ok").over(wcum) == 1
    )
    tot = flagged.agg(
        F.sum(F.when(F.col("is_capped"), F.col("cap")).otherwise(0))
        .cast("long")
        .alias("_cs"),
        F.sum(F.col("is_capped").cast("long")).cast("long").alias("_nc"),
        F.count(F.lit(1)).cast("long").alias("_nn"),
    )
    j = flagged.crossJoin(F.broadcast(tot))
    share = (F.lit(b) - F.col("_cs")) / (F.col("_nn") - F.col("_nc"))
    alloc = F.when(
        F.col("is_capped"), F.col("cap").cast("double")
    ).otherwise(share)
    return j.select(
        "source",
        "n_tokens",
        "cap",
        "is_capped",
        F.round(alloc, 4).alias("alloc_tokens"),
        F.round(alloc / F.col("n_tokens"), 4).alias("epochs"),
    )


def inbatch_negatives(
    docs: DataFrame,
    n_neg: int = 2,
    n_batches: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """In-batch negative pairing for contrastive training — the
    batch-as-negative-pool trick of DPR (Karpukhin et al. EMNLP'20,
    "in-batch negatives") and every dual-encoder recipe since (CLIP,
    GTR): documents sharing a batch serve as each other's negatives,
    so no extra mining pass is needed. Batches are the portable
    mix-hash shard (deterministic, reproducible — the same property
    `pack_sequences` relies on); each anchor takes its ``n_neg``
    batch-mates ranked by the anchor-DEPENDENT draw
    mix(pmod(a, P)·31 + b), so two anchors in one batch see different
    negative orderings (the decorrelation the training loop wants).
    -> (anchor_id, neg_id, batch_id, neg_rank).

    Plan shape: ONE shuffle on batch_id, a within-batch self-join
    bounded by batch size (corpus/n_batches — the caller sizes
    n_batches to the cluster the way a data loader sizes its batch),
    and a per-anchor WindowGroupLimit cut to n_neg."""
    from ..functions import hashing as hx

    d = docs.select(F.col(id_col).cast("long").alias("_id")).withColumn(
        "batch_id", F.pmod(hx.mix_id_expr("_id"), F.lit(int(n_batches)))
    )
    d = d.repartition("batch_id").localCheckpoint(eager=False)
    l, r = d.alias("l"), d.alias("r")
    pairs = l.join(
        r,
        (F.col("l.batch_id") == F.col("r.batch_id"))
        & (F.col("l._id") != F.col("r._id")),
    ).select(
        F.col("l._id").alias("anchor_id"),
        F.col("r._id").alias("neg_id"),
        F.col("l.batch_id").alias("batch_id"),
        hx.mix_id_expr(
            F.pmod(F.col("l._id"), F.lit(hx.MIX_P)) * F.lit(31)
            + F.col("r._id")
        ).alias("_draw"),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("_draw").asc(), F.col("neg_id").asc()
    )
    return (
        pairs.withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("neg_rank") <= int(n_neg))
        .select("anchor_id", "neg_id", "batch_id", "neg_rank")
    )
