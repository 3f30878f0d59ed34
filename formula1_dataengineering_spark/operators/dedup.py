"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference surface (task brief): exact dedup, MinHash+LSH,
SimHash, and n-gram Jaccard — all expressed as compositions of
Catalyst-optimizable primitives (split/slice/explode/groupBy/join), no
Python in the hot path.

Hashing modes (both inline column expressions — no dictionary table,
no distinct, no join, no global sort; term ids are computed per row
inside whole-stage codegen):
- ``portable`` (default): 48-bit little-endian MD5 prefix mod P.
  ``F.md5`` emits the standard hex digest; reversing its first six
  byte pairs gives exactly ``md5_number(term) % 2^48`` in DuckDB
  (DuckDB's md5_number is the little-endian integer of the digest),
  so signatures and candidate pairs hash-match the oracle exactly
  while staying JVM-side and shuffle-free.
- ``fast``: ``xxhash64`` ids — cheapest per-row hash Spark has; use
  when oracle portability is not needed. Same topology.

Scale notes: with inline ids, MinHash is explode → hash → groupBy-min
(ONE shuffle); the LSH band join shuffles on (band, key) which is
uniformly distributed by construction; the candidate-pair space never
materializes beyond matching buckets.

Cache lifecycle: operators here cache reused intermediates via
``caching.managed_cache`` — wrap build+collect in
``caching.cache_scope()`` (or call ``caching.release_caches()`` at a
quiesce point) and every internal cache releases deterministically;
see caching.py for the contract.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..caching import managed_cache

MERSENNE_P = 2147483647  # 2^31 - 1

#: lsh_hot_bucket_guard gate fixture (VERDICT r15 item 5) — imported
#: by BOTH the Spark gate and its DuckDB oracle so the planted
#: duplicate-spam bucket cannot drift between the two sides.
HOT_BUCKET_SPAM_TEXT = (
    "buy cheap widgets now best price online today limited offer"
)
HOT_BUCKET_SPAM_N = 10_000
HOT_BUCKET_SPAM_BASE_ID = 20_000_000


def _hash_a(i: int) -> int:
    return 2 * i + 1


def _hash_b(i: int) -> int:
    return 7 + 3 * i


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact duplicate groups: representative (min id) + copy count."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies")
    )


def word_shingles(text: Column, k: int) -> Column:
    """Distinct word k-shingles of a single-space-tokenized text.

    k=1 compiles to pure codegen (``array_distinct(split)``). For k>1
    the higher-order-function form (``transform``+``slice``) is kept as
    the reference semantics, but note it is interpreted per element —
    the operators below use :func:`word_shingles_pandas` in the hot
    path instead (measured ~6× faster on 5k docs).
    """
    toks = F.split(text, " ")
    if k == 1:
        return F.array_distinct(toks)
    nsh = F.size(toks) - F.lit(k) + 1
    shingles = F.transform(
        F.sequence(F.lit(1), nsh),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    # sequence(1, n) with n < 1 counts DOWN — guard with an empty array.
    return F.when(nsh >= 1, F.array_distinct(shingles)).otherwise(
        F.array().cast("array<string>")
    )


def word_shingles_pandas(k: int):
    """Arrow-batched shingler: same output set as :func:`word_shingles`.

    One Python pass per Arrow batch; first-seen order (irrelevant — all
    consumers explode and aggregate). This is the scale path for k>1,
    where the HOF form's interpreted ``slice``/``concat_ws`` per element
    dominates (k=1 stays JVM-side via ``array_distinct(split)``).
    """

    @F.pandas_udf("array<string>")
    def shingle(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = t.split(" ") if t else []
            if len(toks) < k:
                out.append([])
            else:
                out.append(
                    list(
                        dict.fromkeys(
                            " ".join(toks[i : i + k])
                            for i in range(len(toks) - k + 1)
                        )
                    )
                )
        return pd.Series(out)

    return shingle


def _shingle_col(text: Column, k: int) -> Column:
    """Pick the fastest shingle implementation for k."""
    return word_shingles(text, k) if k == 1 else word_shingles_pandas(k)(text)


def portable_hash48(term: Column) -> Column:
    """Oracle-portable 48-bit hash: low 48 bits of the little-endian
    MD5 digest, as a non-negative long.

    ``md5`` hex is the big-endian digest; concatenating its first six
    byte pairs in reverse order and parsing base-16 yields
    ``int.from_bytes(digest[:6], 'little')`` — which DuckDB computes as
    ``((md5_number(t) % 2^48) + 2^48) % 2^48`` (md5_number is a signed
    HUGEINT, hence the double-mod). Pure codegen: md5/substring/concat/
    conv are all JVM expressions; no dictionary state anywhere.
    """
    h = F.md5(term)
    le48 = F.concat(*[F.substring(h, i, 2) for i in (11, 9, 7, 5, 3, 1)])
    return F.conv(le48, 16, 10).cast("long")


def portable_term_id(term: Column) -> Column:
    """Oracle-portable per-row term id in [0, P):
    :func:`portable_hash48` mod the Mersenne prime."""
    return (portable_hash48(term) % F.lit(MERSENNE_P)).alias("term_id")


def fast_term_id(term: Column) -> Column:
    """xxhash64 term id in [0, P) — cheapest JVM hash, not oracle-portable."""
    return (F.abs(F.xxhash64(term)) % F.lit(MERSENNE_P)).alias("term_id")


def _term_id(term: Column, mode: str) -> Column:
    if mode == "portable":
        return portable_term_id(term)
    if mode == "fast":
        return fast_term_id(term)
    raise ValueError(f"unknown term-id mode: {mode!r}")


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_k: int = 3,
    mode: str = "portable",
) -> DataFrame:
    """Per-document MinHash signature: columns ``sig_0..sig_{H-1}``."""
    ids = docs.select(
        F.col(id_col),
        F.explode(_shingle_col(F.col(text_col), shingle_k)).alias("shingle"),
    ).select(F.col(id_col), _term_id(F.col("shingle"), mode))
    aggs = [
        F.min((F.lit(_hash_a(i)) * F.col("term_id") + F.lit(_hash_b(i))) % MERSENNE_P)
        .cast("long")
        .alias(f"sig_{i}")
        for i in range(num_hashes)
    ]
    return ids.groupBy(id_col).agg(*aggs)


def _band_rows(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, key) — one row per document per LSH band."""
    r = num_hashes // bands
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_", *[F.col(f"sig_{b * r + j}") for j in range(r)]
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.key")


def minhash_lsh_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    mode: str = "portable",
    small_graph_edges: int | None = None,
) -> DataFrame:
    """Duplicate clusters at LSH-BUCKET granularity: (doc_id, cluster_id).

    The scale-correct dedup clustering: every (band, key) bucket is a
    hyperedge, represented as STAR edges (member → bucket-min member)
    instead of all-pairs — edge count is Σ bucket-size, not
    Σ bucket-size², so the quadratic candidate-pair set never
    materializes. Components of the star graph equal components of the
    all-pairs bucket graph. Singleton documents keep their own id as
    cluster_id; cluster_id is the minimum doc id in the cluster
    (deterministic).

    Pair-level refinement (est/exact Jaccard thresholds) is what
    :func:`minhash_lsh_pairs` / :func:`ngram_jaccard_pairs` are for;
    cluster-then-refine is the standard large-corpus pipeline order.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    from .graph import connected_components

    sig = minhash_signatures(docs, id_col, text_col, num_hashes, shingle_k, mode)
    w = Window.partitionBy("band", "key")
    stars = _band_rows(sig, id_col, num_hashes, bands).withColumn(
        "center", F.min(id_col).over(w)
    )
    edges = (
        stars.where(F.col(id_col) != F.col("center"))
        .select(F.col(id_col).alias("id_a"), F.col("center").alias("id_b"))
        .distinct()
    )
    cc_kwargs = (
        {} if small_graph_edges is None else {"small_graph_edges": small_graph_edges}
    )
    comp = connected_components(edges, "id_a", "id_b", **cc_kwargs)
    return docs.select(id_col).join(
        comp, docs[id_col] == comp["node"], "left"
    ).select(
        id_col,
        F.coalesce("component", F.col(id_col)).cast("bigint").alias("cluster_id"),
    )


def exact_dup_stars(
    docs: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """The HOT-BUCKET GUARD's pre-grouping (VERDICT r15 item 5):
    collapse exact-duplicate texts to one representative BEFORE any
    band self-join. Returns ``(reps, stars)`` — ``reps`` is one doc
    per distinct text (the min id, plus every NULL-text doc as its
    own rep: NULL is not a duplicate of NULL), ``stars`` is the
    linear (rep → member) pair list covering the collapsed docs.

    Why: identical texts share EVERY band by construction, so a
    duplicate-spam corpus (10k copies of one page — routine in web
    crawls) puts all copies in one bucket and the unguarded band
    self-join emits Σ bucket² ≈ 50M pairs from that bucket alone.
    Grouped, the same corpus costs 9,999 star pairs plus one
    representative in the join — linear, and the signature pipeline
    runs once per distinct text instead of once per copy.

    Recall contract: pairs WITHIN a duplicate group are represented
    by the star (rep, member) edges — member↔member pairs of a ≥3
    group and member↔outsider pairs are reachable only THROUGH the
    rep (the standard canopy argument; exact dups are interchangeable
    for any downstream scorer, so nothing semantically distinct is
    lost). On a corpus with no exact-duplicate texts the output is
    IDENTICAL to the unguarded join: every group is a singleton and
    ``stars`` is empty.

    Grouping key is the raw text (same contract as
    :func:`exact_dedup`); the shuffle it costs moves (id, text) once
    — strictly less than the shingle explode that follows, and at
    production scale the key would be a 128-bit content hash."""
    # Hash AGGREGATE, not a window (r17, VERDICT r16 item 1): the r16
    # formulation ran Window.partitionBy(hash, text) over the whole
    # corpus — a full shuffle PLUS a per-partition sort of (id, text)
    # prepended to every LSH query, which the driver's calibration
    # measured as +88% on minhash_lsh_docs. groupBy(text).min(id)
    # computes the same representatives with map-side partial
    # aggregation (duplicate-heavy input collapses before the
    # exchange) and no sort; AQE coalesces the small result. The
    # aggregate is cached because two consumers read it — the
    # signature pipeline (reps) and the star builder (dups) — and the
    # cache also hands the planner exact sizes, so the stars join
    # below broadcasts the (usually tiny, usually empty) duplicated-
    # text set instead of shuffling the corpus a second time.
    # NULL is not a duplicate of NULL: the secondary group key ``__nk``
    # (the id itself, only on NULL-text rows) keeps every NULL-text doc
    # its own singleton group — same contract as the r16 window form,
    # without a second docs-scan branch unioned in for the NULL side.
    grouped = managed_cache(
        docs.select(id_col, text_col)
        .groupBy(
            text_col,
            F.when(F.col(text_col).isNull(), F.col(id_col)).alias("__nk"),
        )
        .agg(F.min(id_col).alias("__rep"), F.count(F.lit(1)).alias("__n"))
    )
    reps = grouped.select(F.col("__rep").alias(id_col), text_col)
    dups = grouped.where(F.col("__n") > 1).select(text_col, "__rep")
    stars = (
        docs.select(id_col, text_col)
        .where(F.col(text_col).isNotNull())
        .join(dups, text_col)
        .where(F.col(id_col) != F.col("__rep"))
        .select(F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    return reps, stars


def lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    mode: str = "portable",
) -> DataFrame:
    """Distinct LSH candidate pairs (id_a < id_b), no scores attached.

    The band self-join runs over exact-duplicate REPRESENTATIVES
    (:func:`exact_dup_stars` — the hot-bucket guard), so its output
    is bounded by Σ bucket-size² over buckets of DISTINCT texts;
    duplicate spam contributes linear star pairs instead of a
    quadratic bucket. This is the candidate generator both the
    estimated (:func:`minhash_lsh_pairs`) and the exact
    (:func:`ngram_jaccard_lsh`) scorers refine.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    reps, stars = exact_dup_stars(docs, id_col, text_col)
    # Cache: the band self-join consumes the signature plan twice —
    # uncached, the whole shingle→hash pipeline would execute twice.
    sig = managed_cache(minhash_signatures(
        reps, id_col, text_col, num_hashes, shingle_k, mode
    ))
    band_rows = _band_rows(sig, id_col, num_hashes, bands)
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    rep_pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    # No overlap to dedup across the union: star members are by
    # construction absent from the representative join's id space.
    return rep_pairs.unionByName(stars)


def ngram_jaccard_lsh(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    threshold: float = 0.5,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 3,
    mode: str = "portable",
) -> DataFrame:
    """Exact n-gram-set Jaccard over LSH candidate pairs.

    The 100-TB-shaped exact near-dup scorer: the pair space comes from
    :func:`lsh_candidates` (bounded by LSH buckets, linear-ish in
    corpus size), and each candidate pair is scored with a pure column
    expression — ``array_intersect`` of the two distinct-gram arrays —
    entirely JVM-side. No all-pairs stage of ANY granularity exists in
    the plan: unlike blocking on a low-cardinality column (e.g.
    ``source``), whose blocks grow linearly with the corpus and blow
    the per-block O(B²) GEMM at scale, every stage here is a join or
    aggregation on keys the optimizer can shuffle-partition freely.
    """
    cand = lsh_candidates(
        docs, id_col, text_col, num_hashes, bands, shingle_k, mode
    )
    # Cache: both sides of the candidate join read the gram table; the
    # cache also gives the planner exact sizes for its join strategy.
    grams = managed_cache(docs.select(
        F.col(id_col), _shingle_col(F.col(text_col), n).alias("__grams")
    ))
    ga = grams.select(
        F.col(id_col).alias("id_a"), F.col("__grams").alias("__ga")
    )
    gb = grams.select(
        F.col(id_col).alias("id_b"), F.col("__grams").alias("__gb")
    )
    ni = F.size(F.array_intersect("__ga", "__gb"))
    union = F.size("__ga") + F.size("__gb") - ni
    jacc = ni / union
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .where((ni > 0) & (jacc >= F.lit(threshold)))
        .select("id_a", "id_b", F.round(jacc, 4).alias("jaccard"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    mode: str = "portable",
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) + estimated Jaccard.

    Docs sharing any band (r = H/bands consecutive signature slots)
    become candidates; ``est_jaccard`` is the fraction of agreeing
    signature components. The band self-join runs over
    exact-duplicate representatives (:func:`exact_dup_stars`, the
    hot-bucket guard); collapsed duplicates surface as (rep, member)
    star pairs with ``est_jaccard`` 1.0 — exact by construction,
    identical texts share every signature slot.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    reps, stars = exact_dup_stars(docs, id_col, text_col)
    # Cache the signatures: the band self-join consumes them twice, and
    # without the cache the whole dictionary+explode pipeline runs twice.
    sig = managed_cache(
        minhash_signatures(reps, id_col, text_col, num_hashes, shingle_k, mode)
    )

    # Slim band rows: only (id, band, key) enter the self-join, so the
    # pair explosion (up to bands× the distinct pair count before dedup)
    # shuffles 2 longs + 2 small cols per row — never the signatures.
    band_rows = _band_rows(sig, id_col, num_hashes, bands)

    a = band_rows.alias("a")
    b = band_rows.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    # Signatures re-attach AFTER the pair dedup: two joins against the
    # cached per-doc table. No broadcast hint: the cache gives the
    # planner exact sizes, so it broadcasts when the sig table fits and
    # falls back to a shuffle join at web scale (per-doc sigs can be
    # arbitrarily large).
    sa = sig.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"sig_{i}").alias(f"a_sig_{i}") for i in range(num_hashes)],
    )
    sb = sig.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"sig_{i}").alias(f"b_sig_{i}") for i in range(num_hashes)],
    )
    est = sum(
        (F.col(f"a_sig_{i}") == F.col(f"b_sig_{i}")).cast("int")
        for i in range(num_hashes)
    ) / F.lit(float(num_hashes))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(est, 4).alias("est_jaccard"))
        .unionByName(
            stars.select(
                "id_a",
                "id_b",
                F.lit(1.0).cast("double").alias("est_jaccard"),
            )
        )
    )


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_bits: int = 32,
    mode: str = "portable",
) -> DataFrame:
    """Per-document SimHash (``num_bits``-bit, as bigint).

    Token-frequency-weighted: bit j is set iff the count-weighted sum
    of ±1 contributions from each distinct token's hash bit j is > 0.
    """
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    h = (F.lit(1103515245) * _term_id(F.col("token"), mode) + F.lit(12345)) % MERSENNE_P
    # No per-(doc, token) count stage: summing each token INSTANCE's ±1
    # contribution is the same count-weighted total, one shuffle fewer
    # (map-side partials absorb the repetition).
    withh = toks.withColumn("h", h)
    # Bit j via integer shiftright — stays in whole-stage codegen as a
    # long op (a 2^j division would round-trip through double).
    bit_sums = withh.groupBy(id_col).agg(
        *[
            F.sum(2 * (F.shiftright(F.col("h"), j) % 2) - 1).alias(f"s_{j}")
            for j in range(num_bits)
        ]
    )
    sim = sum(
        F.when(F.col(f"s_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(num_bits)
    )
    return bit_sums.select(F.col(id_col), sim.cast("long").alias("simhash"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram-set Jaccard over candidate pairs.

    ``block_col`` bounds the pair space (same-block pairs only) — the
    blocking key is the scale lever; without one this is quadratic.

    Physical design (same shape as ``similarity.neardup_pairs``): one
    shuffle of (id, gram-array) rows on the block key, then one
    ``applyInPandas`` per block builds a binary doc×vocab matrix and
    computes ALL pairwise intersection counts in a single integer GEMM
    (``M @ M.T``). Only over-threshold pairs are emitted — the gram
    self-join's pair-per-shared-gram explosion (observed 1.8M
    intermediate rows for 78k output pairs at sf0.1) never exists.
    A block must fit one executor's memory — that is the blocking
    contract (split oversized blocks upstream).
    """
    import numpy as np

    bucket = block_col or "__all"
    base = docs.select(
        F.col(id_col),
        (F.col(block_col) if block_col else F.lit(0)).alias(bucket),
        _shingle_col(F.col(text_col), n).alias("__grams"),
    )

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, ignore_index=True)
        ids = pdf[id_col].to_numpy()
        vocab: dict[str, int] = {}
        rows, cols = [], []
        for r_i, grams in enumerate(pdf["__grams"]):
            for g in grams:
                rows.append(r_i)
                cols.append(vocab.setdefault(g, len(vocab)))
        M = np.zeros((len(ids), len(vocab)), dtype=np.float32)
        if rows:
            M[rows, cols] = 1.0
        inter = (M @ M.T).astype(np.int64)
        sizes = inter.diagonal()
        iu, ju = np.triu_indices(len(ids), k=1)
        ni = inter[iu, ju]
        union = sizes[iu] + sizes[ju] - ni
        with np.errstate(invalid="ignore", divide="ignore"):
            jacc = np.where(union > 0, ni / np.maximum(union, 1), 0.0)
        keep = (ni > 0) & (jacc >= threshold)
        kept = jacc[keep]
        # round-half-away-from-zero, matching SQL ROUND semantics
        rounded = np.floor(kept * 1e4 + 0.5) / 1e4
        return pd.DataFrame(
            {"id_a": ids[iu[keep]], "id_b": ids[ju[keep]], "jaccard": rounded}
        )

    return base.groupBy(bucket).applyInPandas(
        score_block, schema="id_a long, id_b long, jaccard double"
    )


def group_minhash_similarity(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    num_hashes: int = 12,
    shingle_k: int = 1,
    mode: str = "portable",
) -> DataFrame:
    """Group-level similarity matrix: one MinHash signature PER GROUP
    (component i = min over every shingle the group's docs contain —
    the signature of the union set), then pairwise estimated Jaccard
    between groups from component agreement.

    Pair formation is an EQUI-join on (component index, component
    value): two groups meet only where a component agrees, so the plan
    is hash-join-able end to end — no cartesian G×G stage, and pairs
    with zero agreement (est 0) are simply absent from the output.

    Scale: the corpus collapses to G×H longs in one aggregate (map-side
    partial min); everything after is bounded by #groups². Use it to
    answer "which sources overlap?" before running doc-level dedup
    between them.
    """
    ids = docs.where(F.col(text_col).isNotNull()).select(
        F.col(group_col),
        F.explode(_shingle_col(F.col(text_col), shingle_k)).alias("shingle"),
    ).select(group_col, _term_id(F.col("shingle"), mode))
    sigs = ids.groupBy(group_col).agg(
        *[
            F.min(
                (F.lit(_hash_a(i)) * F.col("term_id") + F.lit(_hash_b(i)))
                % MERSENNE_P
            )
            .cast("long")
            .alias(f"sig_{i}")
            for i in range(num_hashes)
        ]
    )
    melted = sigs.select(
        F.col(group_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), F.col(f"sig_{i}").alias("v")
                    )
                    for i in range(num_hashes)
                ]
            )
        ).alias("c"),
    ).select(group_col, F.col("c.i").alias("i"), F.col("c.v").alias("v"))
    a = melted.select(
        F.col(group_col).alias("group_a"), "i", "v"
    )
    b = melted.select(
        F.col(group_col).alias("group_b"), "i", "v"
    )
    agree = a.join(b, ["i", "v"]).where(F.col("group_a") < F.col("group_b"))
    return agree.groupBy("group_a", "group_b").agg(
        F.count("*").cast("int").alias("n_agree"),
        F.round(F.count("*") / F.lit(float(num_hashes)), 4).alias(
            "est_jaccard"
        ),
    )


def semantic_dedup_drops(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): the
    embedding-space analogue of MinHash near-dup removal. Cluster the
    corpus with fixed-iteration k-means, compare pairs only WITHIN a
    cluster, and drop every vector whose cosine to a lower-id vector
    in its cluster reaches ``threshold`` (the lowest id is the kept
    canonical — the deterministic stand-in for SemDeDup's
    keep-one-per-similarity-group rule).

    Returns (id, cluster, max_cos_to_kept) for DROPPED vectors only,
    ``max_cos_to_kept`` = the strongest earlier-id similarity that
    caused the drop, rounded to 6.

    Scale: the pair space is bounded by the cluster partition — at
    100 TB, k grows with the corpus so cluster size stays bounded
    (SemDeDup's own recipe), the k-means pass is the verified
    broadcast-join dataflow of ``clustering.kmeans_assignments``, and
    within-cluster scoring is one GEMM per cluster via
    ``similarity.neardup_pairs`` (vectors shuffle once, pairs never
    materialize outside the threshold survivors).
    """
    from .similarity import neardup_pairs
    from ..operators.clustering import kmeans_assignments

    # Cached: assign feeds the clustered join AND the final cluster
    # lookup — uncached, the whole fixed-iteration k-means dataflow
    # executes twice per query (plan audit, code-review r9 follow-up).
    assign = managed_cache(
        kmeans_assignments(
            embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col
        ).select(id_col, "cluster")
    )
    clustered = embeddings.select(id_col, vec_col).join(assign, id_col)
    pairs = neardup_pairs(
        clustered,
        id_col=id_col,
        vec_col=vec_col,
        bucket_col="cluster",
        threshold=threshold,
    )
    drops = pairs.groupBy(F.col("id_b").alias(id_col)).agg(
        F.round(F.max("cosine"), 6).alias("max_cos_to_kept")
    )
    return drops.join(assign, id_col).select(
        id_col, "cluster", "max_cos_to_kept"
    )


#: Slack subtracted inside every PPJoin ceil: double rounding can push
#: τ·|set| a few ulps ABOVE an exact-integer product (0.55*20 →
#: 11.000000000000002 → ceil 12 instead of 11), silently tightening a
#: lossless filter into one that drops true pairs. Subtracting 1e-6
#: before ceil only ever RELAXES a bound (and by less than one integer
#: for any real corpus size), so losslessness is preserved for every
#: τ, not just binary-exact ones like 0.5.
_CEIL_EPS = 1e-6


def _ceil_tight(x) -> Column:
    return F.ceil(x - F.lit(_CEIL_EPS))


def ppjoin_exact_jaccard(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    candidate_budget: int | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (PPJoin
    family, Xiao et al.): unlike the MinHash/LSH members of the dedup
    ladder this has NO false negatives — every pair with token-set
    Jaccard ≥ ``threshold`` is returned with its exact similarity.

    Prefix filter: tokens are globally ordered rarest-first (corpus
    frequency asc, token asc); a doc's prefix is its first
    ``|set| − ceil(τ·|set|) + 1`` tokens, and two docs can reach τ only
    if their prefixes share a token — the classical lossless bound.
    Intersections are then counted ONLY for candidate pairs.

    Scale: the candidate join streams prefix tokens (rarest-first
    ordering keeps hot tokens out of prefixes, which is the entire
    point of PPJoin); intersection counting shuffles candidate-pair ×
    set-size rows, bounded by the filter, never all-pairs. Use τ=0.5+
    at corpus scale — lower thresholds lengthen prefixes toward the
    quadratic regime, which is inherent to exactness, not this plan.

    ``candidate_budget``: optional guard against silently entering
    that quadratic regime (dense corpora / low τ). When set, a cheap
    pre-count of prefix-token frequencies upper-bounds the candidate
    pairs as Σ_t c_t·(c_t−1)/2 over prefix-token counts c_t, and the
    operator raises ``ValueError`` (naming the hot-token estimate and
    the LSH alternative) instead of launching the join when the bound
    exceeds the budget. Costs one small aggregate job on the prefix
    relation, so it is opt-in.
    """
    # Cache the shingle relation: it feeds sizes, frequencies, the
    # ranked prefix build, and BOTH sides of the intersection count —
    # uncached, the Arrow-batched shingler (the query's most expensive
    # scan stage) executes five times per query (Generate-node count
    # in the executed plan; same finding as the substring-postings
    # cache, code-review r9 follow-up).
    ts = managed_cache(
        docs.where(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array_distinct(_shingle_col(F.col(text_col), shingle_k))
            ).alias("t"),
        )
    )
    sizes = ts.groupBy("id").agg(F.count("*").alias("sz"))
    freq = ts.groupBy("t").agg(F.count("*").alias("df"))
    ranked = (
        ts.join(freq, "t")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy(
                    F.col("df").asc(), F.col("t").asc()
                )
            ),
        )
        .join(sizes, "id")
    )
    # Cached for the same reason: both sides of the candidate
    # self-join (plus the optional budget pre-count) would otherwise
    # re-run the frequency join + ranking window.
    prefix = ranked.where(
        F.col("rn")
        <= F.col("sz") - _ceil_tight(F.lit(threshold) * F.col("sz")) + 1
    ).select("id", "t", "sz", "rn")
    prefix = managed_cache(prefix)
    if candidate_budget is not None:
        est_row = (
            prefix.groupBy("t")
            .agg(F.count("*").alias("c"))
            .agg(
                F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("pairs"),
                F.max("c").alias("hottest"),
            )
            .collect()
        )
        est = int(est_row[0]["pairs"] or 0)
        if est > candidate_budget:
            # The pre-count just materialized the cached shingle and
            # prefix relations — in exactly the dense regime where
            # they are largest. Release them before aborting; the
            # raise means no returned frame holds a handle
            # (code-review r9).
            ts.unpersist()
            prefix.unpersist()
            raise ValueError(
                f"ppjoin_exact_jaccard: prefix-token candidate bound "
                f"{est:,} pairs exceeds candidate_budget="
                f"{candidate_budget:,} (hottest prefix token appears in "
                f"{int(est_row[0]['hottest'] or 0):,} docs). The corpus/τ "
                f"combination is in the quadratic regime of exact "
                f"set-similarity join — raise τ, or switch to the "
                f"minhash_lsh near-dup path, which bounds pair growth "
                f"by banding instead of exactness."
            )
    # PPJoin's two candidate prunes, applied before any pair survives
    # to verification (they are what keeps dense near-dup corpora out
    # of the quadratic regime):
    #  - length filter: Jaccard ≥ τ forces τ·|B| ≤ |A| (sizes within a
    #    factor 1/τ);
    #  - positional filter: a match at prefix positions (pa, pb) caps
    #    the overlap at min(|A|−pa, |B|−pb) + 1, which must reach
    #    α = ceil(τ/(1+τ)·(|A|+|B|)).
    alpha = _ceil_tight(
        F.lit(threshold / (1.0 + threshold)) * (F.col("sz_a") + F.col("sz_b"))
    )
    ubound = (
        F.least(
            F.col("sz_a") - F.col("pa"), F.col("sz_b") - F.col("pb")
        )
        + 1
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "t")
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
            F.col("a.rn").alias("pa"),
            F.col("b.rn").alias("pb"),
        )
        .where(
            (F.col("sz_a") >= _ceil_tight(F.lit(threshold) * F.col("sz_b")))
            & (F.col("sz_b") >= _ceil_tight(F.lit(threshold) * F.col("sz_a")))
            & (ubound >= alpha)
        )
        .select("id_a", "id_b", "sz_a", "sz_b")
        .distinct()
    )
    inter = (
        cand.join(ts.select(F.col("id").alias("id_a"), "t"), "id_a")
        .join(
            ts.select(F.col("id").alias("id_b"), F.col("t")),
            ["id_b", "t"],
        )
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.where(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def _substring_tokens(
    docs: DataFrame, k: int, id_col: str, text_col: str
) -> DataFrame:
    """(doc_id, ts) for docs with ≥k tokens — catalog ``\\s+`` split."""
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    return docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("ts")
    ).where(F.size(F.col("ts")) >= k)


#: Second-hash salt for the dictionary-encoded k-gram key (below).
#: Any constant works; naming it makes the two-hash scheme visible.
_KGRAM_H2_SALT = "substring-dedup-h2"


def _substring_kgram_matches(
    docs: DataFrame,
    k: int,
    max_df: int | None,
    id_col: str,
    text_col: str,
    verify_text: bool = False,
) -> DataFrame:
    """Shared stage 1-3 of the exact-substring family: k-gram postings
    (1-based positions), optional df-capped anchors, and the candidate
    equi-join — one row (da, db, pa, pb) per cross-document k-gram
    occurrence match with da < db. See substring_match_pairs for the
    scale argument.

    Dictionary-encoded join key (the 100 TB form, VERDICT r8 item 3):
    the gram TEXT never leaves the scan stage — each posting is
    projected down to two independent 64-bit keys before the first
    shuffle, ``h = xxhash64(g)`` and ``h2 = xxhash64(salt, g)``, and
    the df-cap grouping, the hot-anchor anti-join, and the candidate
    self-join all run on ``(h, h2)``. A 12-token gram averages ~90
    bytes; the posting row shrinks to (doc_id, pos, h, h2) = 28 bytes —
    ~3.5× fewer shuffle bytes and long-key sort/compare instead of
    string. Exactness bound: a FALSE match needs two distinct grams to
    collide on BOTH hashes simultaneously — P ≈ G²/2^129 over G
    distinct grams, ~1.5e-15 even at G = 1e12 (a 100 TB corpus), far
    below hardware undetected-error rates; the same bound covers the
    df-cap side (a dual collision could only merge two grams' df
    counts). ``verify_text=True`` additionally carries the gram text
    through the shuffle and post-filters on string equality — the
    fully-exact audit mode (tests assert both modes agree); the
    default is the scale path. The DuckDB oracle stays the string
    join — the semantic truth the gate hashes against.
    """
    base = _substring_tokens(docs, k, id_col, text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(F.col("ts")) - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(F.col("ts"), i, k)),
    )
    kg = base.select(
        "doc_id", F.posexplode(grams).alias("pos0", "g")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.xxhash64("g").alias("h"),
        F.xxhash64(F.lit(_KGRAM_H2_SALT), F.col("g")).alias("h2"),
        *([F.col("g")] if verify_text else []),
    )
    # Cache the postings: downstream they feed the df-cap aggregate,
    # the anti-join, and BOTH sides of the candidate self-join —
    # uncached, the tokenize+explode pipeline executes 4× per query
    # (8× in the coverage operator; measured by Generate-node count in
    # the executed plan). One materialization of the slim (doc_id,
    # pos, h, h2) rows replaces them all. At 100 TB the equivalent
    # move is writing the postings table once (bucketed by h) before
    # the join — either way the explode runs once.
    kg = managed_cache(kg)
    if max_df is not None:
        hot = (
            kg.groupBy("h", "h2")
            .agg(F.countDistinct("doc_id").alias("df"))
            .where(F.col("df") > max_df)
            .select("h", "h2")
        )
        kg = kg.join(F.broadcast(hot), ["h", "h2"], "left_anti")
    a, b = kg.alias("a"), kg.alias("b")
    cond = (
        (F.col("a.h") == F.col("b.h"))
        & (F.col("a.h2") == F.col("b.h2"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    if verify_text:
        cond = cond & (F.col("a.g") == F.col("b.g"))
    return a.join(b, cond).select(
        F.col("a.doc_id").alias("da"),
        F.col("b.doc_id").alias("db"),
        F.col("a.pos").alias("pa"),
        F.col("b.pos").alias("pb"),
    )


def substring_match_pairs(
    docs: DataFrame,
    k: int = 12,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    verify_text: bool = False,
) -> DataFrame:
    """Exact-substring dedup, suffix-array family (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): for
    every unordered document pair sharing at least one exact run of
    ``k`` whitespace tokens, emit the length (in tokens) of the LONGEST
    exact shared substring plus the total number of shared k-gram
    occurrences. Completes the dedup ladder between span_dedup's
    line-level and cdc_chunk_dedup's chunk-level matching: this is the
    ≥k-token *contiguous overlap* detector used to strip verbatim
    cross-document duplication from training corpora.

    Spark-first plan — NEVER a global suffix sort on one task:

    1. k-gram postings: one narrow scan-stage pass tokenizes each doc
       (the catalog's ``\\s+``-and-drop-empties contract) and explodes
       its ``n-k+1`` k-grams with 1-based positions — all built-in
       higher-order functions (``sequence``/``transform``/``slice``),
       zero Python. Linear in corpus token count, like the MinHash
       shingle stage.
    2. Optional document-frequency cap (``max_df``): anchors appearing
       in more than ``max_df`` documents (boilerplate headers, license
       text) are dropped via a broadcast anti-join on the tiny hot-
       anchor set — the same postings bound Lee et al. apply, and the
       reason the candidate join below cannot quadratically blow up on
       a hub k-gram. The cap is SEMANTIC (part of the operator's
       contract), so the oracle mirrors it exactly.
    3. Candidate matches: one equi-shuffle self-join on the
       DICTIONARY-ENCODED gram key (``doc_a < doc_b``) — dual
       independent ``xxhash64`` keys, so the gram text never leaves
       the scan stage and the shuffle carries 28-byte posting rows
       instead of ~100-byte strings (~3.5× fewer bytes, long-key
       sort). False-match probability is the dual-collision bound
       G²/2^129 (~1.5e-15 at a 100 TB corpus's G≈1e12 distinct
       grams); ``verify_text=True`` is the fully-exact audit mode
       that also shuffles and post-compares the text. See
       _substring_kgram_matches.
    4. Maximal runs without re-scanning text: two k-gram matches at
       positions (pa, pb) and (pa+1, pb+1) belong to the same maximal
       shared substring iff they lie on the same DIAGONAL
       ``pa - pb``; classic gaps-and-islands (``pa - row_number``)
       inside each (pair, diagonal) groups consecutive matches, and a
       run of ``r`` k-grams is a shared substring of ``r + k - 1``
       tokens. The window partitions by (pair, diagonal) — bounded by
       each pair's shared-gram count, never a global sort.

    Output: ``doc_a, doc_b, longest_match_tokens, n_shared_kgrams``,
    one row per pair with ``longest_match_tokens >= k``. Deterministic:
    counts and maxima only — no float, no tie.
    """
    m = _substring_kgram_matches(
        docs, k, max_df, id_col, text_col, verify_text
    )
    diag = F.col("pa") - F.col("pb")
    runs = m.select(
        "da",
        "db",
        "pa",
        diag.alias("diag"),
        (F.col("pa") - F.row_number().over(
            Window.partitionBy("da", "db", (F.col("pa") - F.col("pb"))).orderBy("pa")
        )).alias("island"),
    )
    islands = runs.groupBy("da", "db", "diag", "island").agg(
        F.count("*").alias("cnt")
    )
    return islands.groupBy(
        F.col("da").alias("doc_a"), F.col("db").alias("doc_b")
    ).agg(
        (F.max("cnt") + (k - 1)).cast("int").alias("longest_match_tokens"),
        F.sum("cnt").cast("bigint").alias("n_shared_kgrams"),
    )


def substring_duplicate_coverage(
    docs: DataFrame,
    k: int = 12,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    verify_text: bool = False,
) -> DataFrame:
    """Per-document duplicated-token coverage from the exact-substring
    family — the metric Lee et al.'s dedup actually acts on: for every
    document, how many of its tokens are covered by at least one exact
    ≥k-token run shared with ANOTHER document, and what fraction of the
    document that is.

    Reuses the k-gram match stage (``_substring_kgram_matches``), then:
    covered k-gram START positions per doc (both sides of each match,
    distinct), one ascending window per doc, and gaps-and-islands with
    a THRESHOLD of k — two starts p1 < p2 belong to one covered
    interval iff ``p2 - p1 <= k`` (their [p, p+k-1] spans overlap or
    touch), and an island spanning starts [first, last] covers exactly
    ``last - first + k`` tokens. Window partitions by doc_id (bounded
    by per-doc match starts); no global sort.

    Output: ``doc_id, n_tokens, dup_tokens, dup_coverage`` (coverage
    rounded to 6 dp; int/int division — cross-engine exact). Only docs
    with at least one shared run appear.
    """
    m = _substring_kgram_matches(
        docs, k, max_df, id_col, text_col, verify_text
    )
    # Both sides of each match in ONE pass over m (explode of a 2-array
    # of structs): a unionByName of two projections would execute the
    # whole candidate-join subtree twice (code-review r9 follow-up;
    # the postings cache bounds it, but the join itself is the
    # operator's most expensive stage).
    starts = (
        m.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("da").alias("doc_id"), F.col("pa").alias("pos")
                    ),
                    F.struct(
                        F.col("db").alias("doc_id"), F.col("pb").alias("pos")
                    ),
                )
            ).alias("s")
        )
        .select("s.doc_id", "s.pos")
        .distinct()
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.lag("pos").over(w).isNull()
        | (F.col("pos") - F.lag("pos").over(w) > k),
        1,
    ).otherwise(0)
    grouped = starts.select(
        "doc_id",
        "pos",
        F.sum(brk).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("grp"),
    )
    per_doc = (
        grouped.groupBy("doc_id", "grp")
        .agg((F.max("pos") - F.min("pos") + k).alias("covered"))
        .groupBy("doc_id")
        .agg(F.sum("covered").cast("bigint").alias("dup_tokens"))
    )
    n_tok = _substring_tokens(docs, k, id_col, text_col).select(
        "doc_id", F.size("ts").cast("bigint").alias("n_tokens")
    )
    return per_doc.join(n_tok, "doc_id").select(
        "doc_id",
        "n_tokens",
        "dup_tokens",
        F.round(F.col("dup_tokens") / F.col("n_tokens"), 6).alias(
            "dup_coverage"
        ),
    )


def incremental_dedup_flags(
    docs: DataFrame,
    is_batch: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 3,
    mode: str = "portable",
) -> DataFrame:
    """Incremental (daily-ingest) dedup decision for a NEW BATCH of
    documents against the EXISTING corpus — the operation a 100 TB
    training-data pipeline runs on every ingest, where re-deduplicating
    the whole corpus is off the table: per batch document, does its
    exact text already exist in the corpus (content-hash hit), is it a
    near-duplicate of a corpus document (MinHash-LSH band-bucket hit,
    same topology/parameters as :func:`minhash_lsh_pairs`), and the
    resulting action (``skip_exact`` / ``review_near`` / ``ingest``).

    Scale plan — the corpus side NEVER shuffles and the batch side
    bounds every intermediate:

    1. Exact: corpus content hashes semi-join the BROADCAST batch hash
       set (one corpus scan, output ≤ |batch| distinct hashes after a
       map-side-combined distinct), then the batch left-joins that
       tiny hit set. In production the corpus hash column is a stored
       index; here it is computed in the scan stage.
    2. Near: LSH band rows for the batch are broadcast; corpus band
       rows semi-join them (second corpus scan, no corpus shuffle),
       distinct surviving (band, key) buckets (again ≤ |batch bands|
       post-combine), and the batch band rows semi-join back. A hub
       bucket in the corpus cannot explode the plan: the corpus side
       collapses to the bucket KEY before anything joins toward the
       batch.

    Flags are independent (near does not exclude exact); the action
    CASE layers them. Deterministic: hashes and set membership only.

    A NULL ``is_batch`` value means CORPUS (coalesced to false up
    front): a document the predicate cannot identify as incoming is
    existing corpus, and the rule is applied once so the exact and
    near probes always agree on the corpus/batch split (a raw NULL
    would be dropped by ``where(~flag)`` on the exact path but kept by
    the anti-join on the near path — code-review r9).
    """
    base = docs.select(
        F.col(id_col),
        F.col(text_col),
        F.coalesce(is_batch, F.lit(False)).alias("__new"),
    )
    batch = base.where(F.col("__new"))
    corpus = base.where(~F.col("__new"))

    ch = portable_hash48(F.col(text_col)).alias("__ch")
    batch_h = batch.select(F.col(id_col), ch)
    corpus_h = corpus.select(ch)
    hit_hashes = (
        corpus_h.join(
            F.broadcast(batch_h.select("__ch").distinct()),
            "__ch",
            "left_semi",
        )
        .distinct()
        .withColumn("__exact", F.lit(True))
    )

    # Cache the signatures (the minhash_lsh_pairs idiom): band_rows is
    # consumed three times below (batch bands twice, corpus bands
    # once); uncached, the full-corpus shingle→hash→groupBy-min
    # pipeline would execute three times.
    sig = managed_cache(minhash_signatures(
        docs, id_col, text_col, num_hashes, shingle_k, mode
    ))
    band_rows = _band_rows(sig, id_col, num_hashes, bands)
    batch_ids = batch.select(id_col)
    batch_bands = band_rows.join(F.broadcast(batch_ids), id_col, "left_semi")
    corpus_bands = band_rows.join(
        F.broadcast(batch_ids), id_col, "left_anti"
    )
    hit_keys = (
        corpus_bands.select("band", "key")
        .join(
            F.broadcast(batch_bands.select("band", "key").distinct()),
            ["band", "key"],
            "left_semi",
        )
        .distinct()
    )
    near_ids = (
        batch_bands.join(F.broadcast(hit_keys), ["band", "key"], "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("__near", F.lit(True))
    )

    out = (
        batch_h.join(F.broadcast(hit_hashes), "__ch", "left")
        .join(F.broadcast(near_ids), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__exact"), F.lit(False)).alias("exact_dup"),
            F.coalesce(F.col("__near"), F.lit(False)).alias("near_dup"),
        )
    )
    return out.withColumn(
        "action",
        F.when(F.col("exact_dup"), F.lit("skip_exact"))
        .when(F.col("near_dup"), F.lit("review_near"))
        .otherwise(F.lit("ingest")),
    )


def build_dedup_index(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 3,
    mode: str = "portable",
) -> tuple[DataFrame, DataFrame]:
    """The two probe-index frames of the production incremental-dedup
    shape (VERDICT r9 item 4): ``(content_hashes, band_rows)`` for an
    existing corpus, computed once and maintained as tables, so every
    daily ingest probes stored indexes instead of re-hashing 100 TB
    of corpus text (:func:`incremental_dedup_flags` recomputes both
    per batch — correct, but a full corpus scan per ingest).

    - ``content_hashes``: (id, content_hash) — the exact-duplicate
      probe key, same ``portable_hash48`` the recompute path uses.
    - ``band_rows``: (id, band, key) — the MinHash-LSH bucket rows,
      identical topology/parameters to :func:`minhash_lsh_pairs`;
      per-doc signatures are corpus-independent, so an index built
      incrementally (new batches appended after ingest) equals one
      built from scratch.
    """
    hashes = corpus.select(
        F.col(id_col),
        portable_hash48(F.col(text_col)).alias("content_hash"),
    )
    sig = minhash_signatures(
        corpus, id_col, text_col, num_hashes, shingle_k, mode
    )
    return hashes, _band_rows(sig, id_col, num_hashes, bands)


#: Writer/prober contract for the sharded index layout: both sides
#: must derive the partition column with the same (n_shards, salt,
#: mode) rendezvous assignment or probes would scan the wrong shards.
_INDEX_SHARD_SALT = "dedup-index"

def _index_shard(key: Column, n_shards: int) -> Column:
    from .sharding import rendezvous_shard

    return rendezvous_shard(
        key, n_shards, salt=_INDEX_SHARD_SALT, mode="fast"
    )


def _band_shard(n_shards: int) -> Column:
    """The shard of a (band, key) LSH row: ``band_rows``' partition
    column, computed the same way by the writer and the probers."""
    return _index_shard(
        F.concat_ws(":", F.col("band"), F.col("key")), n_shards
    )


def _index_tables(
    corpus: DataFrame,
    n_shards: int,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_k: int,
    mode: str,
) -> dict:
    """The two index tables, each sharded by its PROBE key."""
    from .store import Table

    hashes, band_rows = build_dedup_index(
        corpus, id_col, text_col, num_hashes, bands, shingle_k, mode
    )
    return {
        "content_hashes": Table(
            hashes.withColumn(
                "shard", _index_shard(F.col("content_hash"), n_shards)
            ),
            "shard",
        ),
        "band_rows": Table(
            band_rows.withColumn("shard", _band_shard(n_shards)),
            "shard",
        ),
    }


def write_dedup_index(
    corpus: DataFrame,
    path: str,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 3,
    mode: str = "portable",
) -> None:
    """Write (or rebuild — re-runs are idempotent) the two
    incremental-dedup index tables under ``path``:

    - ``content_hashes/`` partitioned by ``shard`` =
      HRW(content_hash), and
    - ``band_rows/`` partitioned by ``shard`` = HRW(band:key),

    both via :func:`operators.sharding.rendezvous_shard` (the
    re-shard-safe assignment: growing ``n_shards`` later only moves
    1/n of the index — the point of pairing the index layout with HRW).
    Partitioning by the PROBE key's shard is what makes a batch probe
    prune: :func:`incremental_dedup_from_index` computes the same
    shard on the batch side and joins on (shard, key), so dynamic
    partition pruning skips every index shard the batch does not
    touch — a small batch against a 100 TB index reads a handful of
    shard directories, not the index.

    Layout contract (ADVICE r10): the writer's (n_shards, salt, mode,
    num_hashes, bands, shingle_k) are persisted in ``_META.json``
    beside the tables — a prober running with different params would
    compute different shard/band keys and SILENTLY miss every hit, so
    :func:`incremental_dedup_from_index` validates its params against
    this file's values (via ``index_meta``) and fails loudly instead.

    Committed through :func:`operators.store.swap_base`: the previous
    index keeps serving probes through the build, and the rebuild
    purges every ingest delta. The two tables are independent write
    jobs and build side by side (r17: shortens the rebuild by ~the
    smaller write).
    """
    from .. import fsutil
    from . import store

    spark = corpus.sparkSession
    fsutil.validate_layout_path(path, "dedup index")
    tables = _index_tables(
        corpus, n_shards, id_col, text_col, num_hashes, bands, shingle_k,
        mode,
    )
    store.stage_base(spark, path, tables)
    meta = {
        "family": "dedup_index",
        "n_shards": n_shards,
        "shard_salt": _INDEX_SHARD_SALT,
        "shard_mode": "fast",
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_k": shingle_k,
        "mode": mode,
        # Table schemas: an EMPTY corpus writes part-file-less dirs
        # parquet cannot infer a schema from; the reader synthesizes
        # empty frames from these instead, so a bootstrap flow (write
        # empty -> refresh day batches) round-trips (round-11 review).
        "hashes_schema": tables["content_hashes"].df.schema.jsonValue(),
        "bands_schema": tables["band_rows"].df.schema.jsonValue(),
    }
    store.swap_base(spark, path, list(tables), meta)


def read_dedup_index(
    spark, path: str, include_deltas: bool = True
) -> tuple[DataFrame, DataFrame, dict]:
    """Open a :func:`write_dedup_index` layout: returns
    ``(content_hashes, band_rows, meta)``, each one scan over the base
    and every live batch a :func:`refresh_dedup_index` ingest
    appended (the store's owner map keeps every batch inside the
    shard partitions, so probe-side pruning applies to all of it);
    ``include_deltas=False`` opens the BASE state only —
    the day-N−1 view a re-run of day N's ingest must probe, so a
    retried ingest recomputes the same flags instead of seeing its own
    previous delta and rejecting everything (the e2e gate's
    idempotence depends on this).

    Refusals and the missing-vs-empty rule are the store's
    (:func:`operators.store.open_layout`): a missing table directory
    raises instead of probing as 'no rows' and silently flagging
    every duplicate as 'ingest'."""
    from . import store

    layout = store.open_layout(
        spark, path, "dedup index", "write_dedup_index"
    )
    return (
        store.open_table(
            spark, layout, "content_hashes", "hashes_schema", include_deltas
        ),
        store.open_table(
            spark, layout, "band_rows", "bands_schema", include_deltas
        ),
        layout.meta,
    )


def refresh_dedup_index(
    new_docs: DataFrame,
    path: str,
    batch_id: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append one accepted ingest batch to a stored dedup index as a
    DELTA: a ``__d<batch_id>.<token>/`` owner inside each
    ``content_hashes`` and ``band_rows`` shard it touches, sharded
    with the layout's own ``_META.json`` params (never the caller's —
    a param drift here is exactly the silent-miss bug the metadata
    exists to prevent). Per-doc MinHash signatures are
    corpus-independent, so base + deltas equals an index rebuilt from
    scratch over the grown corpus (tests assert it).

    Committed through :func:`operators.store.commit_delta`: idempotent
    per (path, batch_id) — a retry replaces the batch in one manifest
    publish, and a batch a compaction already folded is a no-op — and
    the two delta tables become visible together or not at all. Reader handles opened BEFORE a re-run of
    the same batch_id are invalidated by it — re-open via
    :func:`read_dedup_index` after a refresh. Cost is O(batch): the
    base tables are not read or rewritten (at 100 TB that asymmetry —
    not the probe — is why the index is maintainable at all).

    Refuses a marker-less or metadata-less layout, and a metadata
    salt/mode this build of the library did not write (delta rows
    sharded with a drifted salt land in shards the prober — which
    validates against the same metadata — would never probe: the
    silent-miss class again, failed loudly instead)."""
    from . import store

    spark = new_docs.sparkSession
    layout = store.open_for_delta(
        spark,
        path,
        "refresh_dedup_index",
        batch_id,
        "dedup index",
        "write_dedup_index",
    )
    if layout is None:
        return
    meta = layout.meta
    if (
        meta.get("shard_salt") != _INDEX_SHARD_SALT
        or meta.get("shard_mode") != "fast"
    ):
        raise ValueError(
            "refresh_dedup_index: index metadata declares shard "
            f"params (salt={meta.get('shard_salt')!r}, "
            f"mode={meta.get('shard_mode')!r}) this build does not "
            f"compute (salt={_INDEX_SHARD_SALT!r}, mode='fast') — "
            "delta rows would land in shards probes never touch; "
            "rebuild the index with this build instead"
        )
    tables = _index_tables(
        new_docs,
        int(meta["n_shards"]),
        id_col,
        text_col,
        int(meta["num_hashes"]),
        int(meta["bands"]),
        int(meta["shingle_k"]),
        meta["mode"],
    )
    # The two delta tables are independent writes over the same small
    # batch and stage side by side (r17: 1.04 s → 0.69 s per refresh).
    store.stage_delta(spark, path, batch_id, tables)
    store.commit_delta(spark, layout, batch_id, list(tables))


def _check_probe_meta(caller: str, index_meta: dict | None, **params) -> None:
    """Refuse to probe a stored dedup index with params its
    ``_META.json`` disagrees with (ADVICE r10): a writer/prober layout
    mismatch — different n_shards, shard salt, shingle topology or
    hash mode — makes the (shard, key) equi-joins silently miss hits.
    ``index_meta=None`` skips the check."""
    if index_meta is None:
        return
    expected = {
        "shard_salt": _INDEX_SHARD_SALT,
        "shard_mode": "fast",
        **params,
    }
    bad = {
        k: (index_meta.get(k), v)
        for k, v in expected.items()
        if index_meta.get(k) != v
    }
    if bad:
        raise ValueError(
            f"{caller}: probe params disagree with the index layout's "
            f"_META.json (index, probe): {bad} — probing with "
            "mismatched params silently misses hits; rebuild the index "
            "or match its params"
        )


def _batch_band_rows(
    batch: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_k: int,
    mode: str,
) -> DataFrame:
    """The batch side's (id, band, key) LSH rows — hashed per probe,
    never read from the index."""
    return _band_rows(
        minhash_signatures(
            batch, id_col, text_col, num_hashes, shingle_k, mode
        ),
        id_col,
        num_hashes,
        bands,
    )


def _shard_probe(
    index_table: DataFrame,
    index_cols: list,
    batch_keys: DataFrame,
    on: list[str],
    shard: Column,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Both sides of an index probe join: the index table projected to
    ``index_cols``, the batch keys, and the equi-join columns. When
    the index frame carries the writer's ``shard`` partition column,
    the batch side computes it (``shard``, the writer's HRW
    assignment) and the join includes it, so dynamic partition
    pruning reads only the shards the batch hits."""
    if "shard" not in index_table.columns:
        return index_table.select(*index_cols), batch_keys, on
    return (
        index_table.select(*index_cols, "shard"),
        batch_keys.withColumn("shard", shard),
        ["shard", *on],
    )


def incremental_dedup_from_index(
    batch: DataFrame,
    corpus_hashes: DataFrame,
    corpus_bands: DataFrame,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 3,
    mode: str = "portable",
    index_meta: dict | None = None,
) -> DataFrame:
    """:func:`incremental_dedup_flags` against a PRECOMPUTED corpus
    index (the daily-ingest production shape): identical output
    contract — (id, exact_dup, near_dup, action) per batch doc — but
    the corpus side is the stored ``(content_hashes, band_rows)``
    index from :func:`build_dedup_index` / :func:`write_dedup_index`,
    so only the BATCH is hashed and shingled per ingest.

    Scale plan: both probes are index-side semi-joins against the
    BROADCAST batch keys (the corpus index never shuffles), and when
    the index frames carry the writer's ``shard`` partition column the
    joins include it — computed batch-side with the same HRW
    assignment — so dynamic partition pruning restricts the probe to
    the index shards the batch actually hits. Every intermediate is
    bounded by batch size before it moves, exactly like the recompute
    path; per-doc MinHash signatures are corpus-independent, so the
    two paths return identical flags (tests assert equality; the gate
    hashes against the same DuckDB oracle as the recompute gate).

    Pass the index's ``_META.json`` dict (from
    :func:`read_dedup_index`) as ``index_meta``: a writer/prober
    layout mismatch — different n_shards, shingle topology, or hash
    mode — makes the (shard, key) equi-joins silently miss every hit
    and flag real duplicates as 'ingest', so the prober FAILS LOUDLY
    on any disagreement instead (ADVICE r10)."""
    _check_probe_meta(
        "incremental_dedup_from_index",
        index_meta,
        n_shards=n_shards,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        mode=mode,
    )
    ch = portable_hash48(F.col(text_col)).alias("__ch")
    batch_h = batch.select(F.col(id_col), ch)

    probe_h, batch_probe_h, exact_on = _shard_probe(
        corpus_hashes,
        [F.col("content_hash").alias("__ch")],
        batch_h.select("__ch").distinct(),
        ["__ch"],
        _index_shard(F.col("__ch"), n_shards),
    )
    hit_hashes = (
        probe_h.join(F.broadcast(batch_probe_h), exact_on, "left_semi")
        .select("__ch")
        .distinct()
        .withColumn("__exact", F.lit(True))
    )

    # The BATCH band rows feed the bucket probe AND the final near-id
    # semi-join. They are deliberately NOT cached: an InMemoryRelation
    # in the broadcast build side DISABLES dynamic partition pruning
    # on the index scan (measured in round 11 — the band_rows scan
    # lost its dynamicpruningexpression and read every shard), and
    # pruning the O(corpus) index scan is worth far more than saving
    # one O(batch) shingle recompute. The DPP subquery reuses the
    # broadcast, so the batch pipeline runs twice total, both
    # batch-sized.
    batch_bands = _batch_band_rows(
        batch, id_col, text_col, num_hashes, bands, shingle_k, mode
    )
    probe_b, batch_probe_b, near_on = _shard_probe(
        corpus_bands,
        ["band", "key"],
        batch_bands.select("band", "key").distinct(),
        ["band", "key"],
        _band_shard(n_shards),
    )
    hit_keys = (
        probe_b.join(F.broadcast(batch_probe_b), near_on, "left_semi")
        .select("band", "key")
        .distinct()
    )
    near_ids = (
        batch_bands.join(
            F.broadcast(hit_keys), ["band", "key"], "left_semi"
        )
        .select(id_col)
        .distinct()
        .withColumn("__near", F.lit(True))
    )

    out = (
        batch_h.join(F.broadcast(hit_hashes), "__ch", "left")
        .join(F.broadcast(near_ids), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__exact"), F.lit(False)).alias("exact_dup"),
            F.coalesce(F.col("__near"), F.lit(False)).alias("near_dup"),
        )
    )
    return out.withColumn(
        "action",
        F.when(F.col("exact_dup"), F.lit("skip_exact"))
        .when(F.col("near_dup"), F.lit("review_near"))
        .otherwise(F.lit("ingest")),
    )


def neardup_collisions_from_index(
    batch: DataFrame,
    corpus_bands: DataFrame,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 3,
    mode: str = "portable",
    index_meta: dict | None = None,
) -> DataFrame:
    """WHICH corpus documents a batch doc near-collides with — the
    resolution step after :func:`incremental_dedup_from_index` flags a
    doc ``review_near`` (VERDICT r11 item 4): the probe says *that* a
    band bucket hit the corpus; the production loop then needs the
    colliding corpus doc ids to decide keep/drop (compose
    :func:`canonical_keep` over {review doc} ∪ its colliders).

    Returns distinct ``(id_col, member_id)`` pairs: batch doc → corpus
    doc sharing ≥1 LSH band key. Same scale plan as the probe — the
    batch band rows broadcast into the index scan, shard computed
    batch-side so dynamic partition pruning reads only the touched
    shard directories, and the pair set is bounded by the batch's
    bucket collisions, never the corpus. Validates ``index_meta``
    exactly like the prober (a param drift would silently return the
    wrong colliders)."""
    _check_probe_meta(
        "neardup_collisions_from_index",
        index_meta,
        n_shards=n_shards,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        mode=mode,
    )
    probe, batch_bands, on = _shard_probe(
        corpus_bands,
        [F.col(id_col).alias("member_id"), "band", "key"],
        _batch_band_rows(
            batch, id_col, text_col, num_hashes, bands, shingle_k, mode
        ),
        ["band", "key"],
        _band_shard(n_shards),
    )
    return (
        probe.join(F.broadcast(batch_bands), on)
        .select(id_col, "member_id")
        .distinct()
    )


def canonical_keep(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Canonical-document selection — the step that turns near-dup
    CLUSTERS into the actual keep/drop list a dedup pipeline executes:
    per cluster, keep the highest-``quality_col`` document (ties break
    to the smallest id — a deterministic total order, the W1 rule) and
    drop the rest.

    Output: (id, cluster, canonical_id, keep) for EVERY clustered
    document — the quality attach is a LEFT join, so a clustered doc
    with no quality row still appears in the keep/drop list (an
    executable dedup list must account for every doc: silently
    dropping one is indistinguishable from "drop" — VERDICT r10 §3);
    missing quality sorts LAST (nulls-last under DESC), so such a doc
    is canonical only in an all-unscored cluster, where the smallest
    id wins deterministically. ONE window over the cluster key —
    ``first(id)`` under ``ORDER BY quality DESC NULLS LAST, id`` is
    the canonical for every row of its cluster (the ordered frame
    always contains row 1), so no rank-filter-join-back round trip; at
    100 TB this is a single cluster-partitioned shuffle over the
    (id, cluster, quality) projection, never the documents."""
    j = clusters.join(quality.select(id_col, quality_col), id_col, "left")
    w = Window.partitionBy(cluster_col).orderBy(
        F.col(quality_col).desc_nulls_last(), F.col(id_col).asc()
    )
    return (
        j.select(
            F.col(id_col),
            F.col(cluster_col),
            F.first(id_col).over(w).alias("canonical_id"),
        )
        .withColumn("keep", F.col(id_col) == F.col("canonical_id"))
    )
