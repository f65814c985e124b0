"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (its dedup is the per-batch id re-key,
IndexQueueProcessor.cs:46 — see operators/routing.py); these are the corpus-
level dedup family a 100 TB webtext pipeline needs, built on the same
tokenizer as the index (consistent text semantics).

Every hash here is derived from md5 hex prefixes with EXPLICIT arithmetic —
no engine-native hash() — so results are bit-identical between Spark and any
ANSI-SQL oracle (the driver's DuckDB check) and stable across JVMs/versions.

Scale notes:
  * exact dedup: one shuffle on the content hash (groupBy) — optimal.
  * MinHash/LSH: signatures are per-doc map-side work; the candidate join
    shuffles on (band, bucket) — bounded by bucket size, the standard LSH
    bound. Banding keeps the self-join from being O(n^2).
  * SimHash: per-doc map-side fold over term bits; near-dup = hamming
    distance on the 64-bit signature. Candidates come from Manku-style
    block-combination banding (Manku/Jain/Sarma, WWW'07): the signature
    splits into SIMHASH_BLOCKS 8-bit blocks and every pair of blocks forms
    a 16-bit band key — C(8,2) = 28 bands x 65,536 buckets. Pigeonhole:
    hamming <= SIMHASH_BLOCKS - SIMHASH_KEY_BLOCKS (= 6) flips dirty at
    most 6 blocks, so at least one CLEAN pair of blocks collides —
    candidate generation is complete for the default threshold, and the
    expected bucket occupancy is N/2^16 per band (vs the old 32-bit
    4x256-bucket scheme whose buckets grew linearly with the corpus and
    made the within-bucket self-join quadratic). Wider corpora scale by
    passing key_blocks=3 to simhash_band_pairs (24-bit keys, C(8,3) = 56
    bands, complete for hamming <= 5; occupancy N/2^24 per band): bucket
    count grows geometrically with key width while band count grows
    polynomially, and the function REFUSES thresholds its banding cannot
    cover completely.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# fixed MinHash permutation constants: h_j(x) = (A[j]*x + B[j]) mod P.
# P prime > 2^32; A < 2^28 keeps A*x < 2^60 (no int64 overflow).
MINHASH_P = 4294967311
MINHASH_A = [
    217636919, 175914297, 251086399, 233451223,
    198765431, 151239577, 262144231, 190101121,
    246809347, 205437103, 169743649, 259814341,
    228804289, 181422031, 214567561, 240333323,
]
MINHASH_B = [
    104729, 1299709, 15485863, 32452843,
    49979687, 67867967, 86028121, 104395301,
    122949823, 141650939, 160481183, 179424673,
    198491317, 217645177, 236887691, 256203161,
]
N_HASHES = 16
N_BANDS = 4  # 4 rows per band


def tokens_expr(text: Column) -> Column:
    """lower + split on non-alphanumerics, empties removed — the SQL-
    expressible twin of functions.textprep.tokenize for ASCII corpora."""
    return F.filter(F.split(F.lower(text), "[^a-z0-9]+"), lambda t: t != "")


def hash32_expr(s: Column) -> Column:
    """First 8 hex chars of md5 -> int64 in [0, 2^32) — cross-engine stable."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")


def shingles_expr(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct), as strings; empty if fewer than n
    tokens (sequence() would run backwards on a negative bound)."""
    return F.array_distinct(
        F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


def signature_from_shingles(sh: Column) -> Column:
    """array<bigint> of N_HASHES minhash values from a shingle array column —
    the shared kernel, so callers that already materialized shingles don't
    recompute tokenize->shingle (the md5-per-shingle work dominates at
    corpus scale)."""
    hashes = F.transform(sh, hash32_expr)

    def perm(j: int):  # see _bit_vote for why no default-arg lambdas
        def fn(h: Column) -> Column:
            return ((h % MINHASH_P) * MINHASH_A[j] + MINHASH_B[j]) % MINHASH_P

        return fn

    return F.array(
        *[F.array_min(F.transform(hashes, perm(j))) for j in range(N_HASHES)]
    )


SIMHASH_BITS = 64
SIMHASH_BLOCKS = 8  # 8-bit blocks of the 64-bit signature
SIMHASH_KEY_BLOCKS = 2  # default band key width: a PAIR of blocks (16 bits)


def simhash_band_combos(key_blocks: int = SIMHASH_KEY_BLOCKS) -> list[tuple]:
    """Every sorted key_blocks-subset of the 8 signature blocks — one band
    per combination: C(8,2) = 28 16-bit bands, C(8,3) = 56 24-bit bands.
    Completeness (pigeonhole): h flipped bits dirty at most h blocks, so
    any pair at hamming <= SIMHASH_BLOCKS - key_blocks shares >= key_blocks
    clean blocks — and every block subset of that size is a band, so the
    pair collides in at least one band. Expected occupancy per band bucket
    is N / 2^(8*key_blocks): corpus growth is bought with key width
    (geometric bucket growth) at polynomial band-count cost."""
    from itertools import combinations

    return list(combinations(range(SIMHASH_BLOCKS), key_blocks))


# back-compat alias: the default PAIR banding
SIMHASH_BAND_COMBOS = simhash_band_combos(SIMHASH_KEY_BLOCKS)


def hash32_hi_expr(s: Column) -> Column:
    """Hex chars 9-16 of md5 -> int64 in [0, 2^32): the HIGH word of the
    64-bit term hash (hash32_expr is the low word)."""
    return F.conv(F.substring(F.md5(s), 9, 8), 16, 10).cast("bigint")


def _bit_vote(b: int):
    """Two-arg aggregate lambda for bit b. NOTE: default-arg closures
    (lambda acc, x, b=b) are unusable here — PySpark counts lambda PARAMETERS
    to pick the higher-order-function arity, so a default arg turns a 2-arg
    merge into a phantom 3-arg lambda."""

    def vote(acc: Column, x: Column) -> Column:
        return acc + F.when(x.bitwiseAND(F.lit(1 << b)) > 0, 1).otherwise(-1)

    return vote


def _vote_word(h: Column) -> Column:
    """32-bit signature word from a term-hash-word array: bit b set when
    the tf-weighted vote over the corpus terms' bit b is positive."""
    bits = F.array(
        *[
            F.when(
                F.aggregate(h, F.lit(0).cast("bigint"), _bit_vote(b)) > 0,
                F.lit(1 << b).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
            for b in range(32)
        ]
    )
    return F.aggregate(bits, F.lit(0).cast("bigint"), lambda a, x: a + x)


def simhash64(text: Column) -> Column:
    """64-bit SimHash over term hashes weighted by tf (map-side only)."""
    return simhash64_from_tokens(tokens_expr(text))


def simhash64_from_tokens(toks: Column) -> Column:
    """64-bit SimHash from an already-computed token array column — callers
    that also need the tokens (e.g. an emptiness gate) materialize them once
    in a prior projection instead of paying the tokenize regex chain twice
    (Catalyst does not share subexpressions across projection/filter).

    The signature is two 32-bit voted words (low word = md5 hex 1-8, high
    word = hex 9-16) combined into ONE signed int64 via an overflow-free
    two's-complement fold — `hi*2^32 + lo` would overflow engines that
    check (DuckDB), so the high word is re-biased into [-2^31, 2^31)
    first. Bit algebra (shifts, xor, popcount) on the signed value is
    identical across Spark and the SQL oracle."""
    lo = _vote_word(F.transform(toks, hash32_expr))
    hi = _vote_word(F.transform(toks, hash32_hi_expr))
    signed_hi = F.when(hi < F.lit(1 << 31), hi).otherwise(
        hi - F.lit(1 << 32).cast("bigint")
    )
    return signed_hi * F.lit(1 << 32).cast("bigint") + lo


def simhash_band_pairs(
    docs: DataFrame,
    max_hamming: int = 6,
    text_col: str = "text",
    key_blocks: int = SIMHASH_KEY_BLOCKS,
) -> DataFrame:
    """Near-duplicate pairs by 64-bit SimHash: (doc_a, doc_b, hamming) with
    hamming(simhash_a, simhash_b) <= max_hamming.

    Candidates come from Manku-style block-combination banding
    (simhash_band_combos): 8-bit blocks, every key_blocks-subset a band key
    — key_blocks=2 gives 28 bands x 2^16 buckets (complete for hamming <=
    6), key_blocks=3 gives 56 bands x 2^24 buckets (complete for hamming
    <= 5). ``key_blocks`` is the corpus-scale knob: expected occupancy per
    band bucket is N/2^(8*key_blocks), which keeps the within-bucket
    self-join linear-ish as N grows. Raises when the requested max_hamming
    exceeds what the banding can generate completely (a silent recall hole
    otherwise). Verification is an exact popcount on the joined pair."""
    if max_hamming > SIMHASH_BLOCKS - key_blocks:
        raise ValueError(
            f"key_blocks={key_blocks} banding is only complete for "
            f"hamming <= {SIMHASH_BLOCKS - key_blocks}, got max_hamming="
            f"{max_hamming} — lower key_blocks or the threshold"
        )
    combos = simhash_band_combos(key_blocks)
    toks = docs.select(
        "doc_id", tokens_expr(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") > 0)
    withsig = toks.select(
        "doc_id", simhash64_from_tokens(F.col("toks")).alias("sig")
    )

    def block(i: int) -> Column:
        # (sig >> 8i) & 255 is shift-kind-agnostic: the mask drops any
        # sign-extension, so arithmetic vs logical shift cannot diverge
        return F.shiftright("sig", 8 * i).bitwiseAND(F.lit(255))

    def band_val(combo: tuple) -> Column:
        v = block(combo[0])
        for b in combo[1:]:
            v = v * F.lit(256) + block(b)
        return v

    bands = withsig.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        band_val(combo).alias("val"),
                    )
                    for bi, combo in enumerate(combos)
                ]
            )
        ).alias("bv"),
    ).select(
        "doc_id", "sig", F.col("bv.band").alias("band"), F.col("bv.val").alias("val")
    )
    a = bands.select(
        "band", "val", F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")
    )
    b = bands.select(
        "band", "val", F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")
    )
    return (
        a.join(b, ["band", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash: (content_hash, n_docs, keep_doc_id).
    keep = min doc_id (deterministic survivor)."""
    return (
        docs.withColumn("content_hash", F.md5(F.col(text_col)))
        .groupBy("content_hash")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("keep_doc_id"),
        )
    )


def shingle_table(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, sh): per-doc distinct shingle arrays — THE shared intermediate
    of the minhash/LSH/jaccard family. Callers running more than one
    downstream op should persist() this so tokenize->shingle->md5 happens
    once, not once per consumer."""
    return docs.select(
        "doc_id", shingles_expr(tokens_expr(F.col(text_col)), n).alias("sh")
    )


def bands_from_shingles(sh_df: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) LSH band buckets from a (doc_id, sh) frame.
    rows-per-band = N_HASHES/N_BANDS; bucket = md5 of the band's slice."""
    rows = N_HASHES // N_BANDS
    # docs with no shingles (< n tokens) have no signature — excluding them
    # also prevents every tiny doc colliding on the all-null bucket
    out = sh_df.filter(F.size("sh") > 0).select(
        "doc_id", signature_from_shingles(F.col("sh")).alias("sig")
    )
    return out.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "_", *[F.element_at("sig", b * rows + r + 1) for r in range(rows)]
                            )
                        ).alias("bucket"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_bands(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, band, bucket): LSH band buckets from the minhash signature."""
    return bands_from_shingles(shingle_table(docs, text_col))


def lsh_candidate_pairs(
    docs: DataFrame | None = None,
    text_col: str = "text",
    bands: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any band bucket (doc_a < doc_b),
    deduplicated across bands. Pass precomputed ``bands`` (ideally persisted)
    to avoid re-deriving signatures."""
    b = bands if bands is not None else minhash_bands(docs, text_col)
    a = b.select(
        F.col("band"), F.col("bucket"), F.col("doc_id").alias("doc_a")
    )
    c = b.select(
        F.col("band"), F.col("bucket"), F.col("doc_id").alias("doc_b")
    )
    return (
        a.join(c, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def duplicate_clusters(
    pairs: DataFrame,
    docs: DataFrame | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """(doc_id, cluster_id, keep): connected components over a near-dup pair
    graph, cluster_id = min doc_id in the component, keep = survivor flag.
    This is the step between "pairs" and an actual deduped corpus: a real
    pipeline keeps ONE doc per cluster, and transitive near-dups (a~b, b~c)
    must land in one cluster even when (a,c) never passed the verify
    threshold.

    Algorithm: iterative min-label propagation (the hash-to-min style CC).
    Each round is one shuffle join (edges x labels) + one groupBy(min) —
    all JVM-side; rounds needed ~ graph diameter, and near-dup components
    are LSH cliques/stars with tiny diameter, so 2-4 rounds in practice.
    Labels are persisted per round and the previous round unpersisted (no
    recomputation cascade), and every 5th round the frame is
    localCheckpoint-ed so the LOGICAL plan cannot grow unboundedly on
    high-diameter graphs — persist alone does not truncate lineage. The
    convergence check is a limit(1) count per round (bounded by max_iter).

    ``docs``: optional full doc frame; when given, docs in no pair are
    emitted as singleton clusters (cluster_id = own doc_id, keep = true).
    """
    # symmetric edge list; pairs come in as doc_a < doc_b
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .persist()
    )
    converged = labels.count() == 0  # no edges -> nothing to propagate
    for it in range(max_iter):
        if converged:
            break
        # candidate label for each node: min over its neighbors' labels
        nbr = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = labels.join(nbr, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("label"),
        )
        if it % 5 == 4:
            new_labels = new_labels.localCheckpoint(eager=False)
        new_labels = new_labels.persist()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        # silent truncation would emit one true component as several
        # clusters with several keep=True survivors — a dedup pipeline
        # quietly keeping duplicates. Fail loudly instead.
        raise RuntimeError(
            f"duplicate_clusters did not converge in max_iter={max_iter} "
            "rounds (pair-graph diameter exceeds the cap); raise max_iter"
        )
    out = labels.select("doc_id", F.col("label").alias("cluster_id"))
    if docs is not None:
        singles = docs.join(out, "doc_id", "left_anti").select(
            "doc_id", F.col("doc_id").alias("cluster_id")
        )
        out = out.union(singles)
    return out.withColumn("keep", F.col("doc_id") == F.col("cluster_id"))


# previous call's persisted shingle frame (see ngram_jaccard_pairs)
_LAST_SH: DataFrame | None = None


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.2, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Exact n-gram Jaccard over LSH candidate pairs:
    (doc_a, doc_b, jaccard) with jaccard >= threshold.

    The shingle table is computed ONCE and persisted: the band derivation,
    the pairs join, and both verify-join sides all read the cached frame —
    at corpus scale the md5-per-shingle work dominates, so recomputing it
    per consumer (3x) was the plan's biggest waste. The cache is bounded:
    each call unpersists the PREVIOUS call's shingle frame (at most one
    lives per session; unpersisting our own after return would force the
    lazy consumer to recompute it 3x)."""
    global _LAST_SH
    if _LAST_SH is not None:
        # unpersist BEFORE persisting the new frame: a repeat call over the
        # same source produces an identical logical plan, which Spark's
        # CacheManager maps to one shared cache entry — unpersisting the
        # old frame afterwards would drop the new frame's cache with it
        _LAST_SH.unpersist()
    sh = shingle_table(docs, text_col, n).persist()
    _LAST_SH = sh
    pairs = lsh_candidate_pairs(bands=bands_from_shingles(sh))
    j = (
        pairs.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold)
