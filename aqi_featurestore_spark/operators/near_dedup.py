"""Approximate deduplication: n-gram Jaccard, MinHash + LSH, SimHash.

Extension operators for 100 TB training-data pipelines (BASELINE.json).
All three follow the same distributed shape — shingle/tokenize, hash,
band, bucket-join — so the shuffle moves fixed-width hashes, never
document bodies:

- **n-gram Jaccard** (exact): explode distinct shingles, self-join on the
  shingle, count intersections, one division. The join key is a 64-bit
  shingle hash, and common-shingle skew is what AQE's skew-join splitting
  handles.
- **MinHash signatures + LSH banding** (approximate Jaccard): k
  hash-permutations approximated by an affine universal family over one
  md5-derived shingle hash; signature = per-doc min per permutation.
  Banding b x r turns "Jaccard >= t" into "some band equal", so
  candidate generation is an equi-join on (band, band_hash) — no
  pairwise scan.
- **SimHash** (approximate cosine over token sets): 64-bit signature from
  per-bit weighted majority of token hashes; near-dups = signatures within
  small Hamming distance, found by exact-match on 16-bit bands (any
  signature pair with Hamming <= 3 shares at least one of 4 bands).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

from aqi_featurestore_spark.functions import portable_hash as ph
from aqi_featurestore_spark.functions.text import word_shingles


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a narrow input up to cluster parallelism before
    expensive per-row work (shingle explode, 64-hash signatures). A small
    single-file scan arrives as ONE partition and would serialize the
    whole pipeline; the extra shuffle moves only the source rows.

    This is a pure plan hint: probing the actual partition count would
    force physical planning through the RDD API on every call."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _doc_shingles(
    docs: DataFrame, *, id_col: str, text_col: str, k: int, dedup: bool = True
) -> DataFrame:
    """Exploded (id, shingle) rows. ``dedup=False`` skips the
    dropDuplicates exchange — correct whenever the consumer is
    duplicate-insensitive (min aggregates, collect_set), which saves a
    full shuffle of the exploded shingle strings; set-cardinality
    consumers (the exact-Jaccard intersection count) need ``True``."""
    sh = docs.select(
        F.col(id_col), F.explode(word_shingles(text_col, k)).alias("shingle")
    )
    return sh.dropDuplicates([id_col, "shingle"]) if dedup else sh


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.2,
    broadcast: bool = False,
) -> DataFrame:
    """Exact Jaccard similarity over k-word shingle sets for every pair
    sharing at least one shingle. Returns (d1, d2, inter, n1, n2, jaccard)
    with d1 < d2.

    ``broadcast`` is a pure plan hint (no eager action): True broadcasts
    the build side of the shingle self-join — right when the exploded
    shingle set fits executor memory (roughly corpora under ~50k docs);
    the join then runs map-side with zero shuffle of the shingles. The
    default False is the 100 TB path: sort-merge shuffle join with AQE
    splitting common-shingle skew. Deciding from the data would cost a
    full count() action before the query's own job, so the caller who
    knows the corpus is small says so."""
    small = broadcast
    if small:
        docs = _spread(docs)
    sh = _doc_shingles(docs, id_col=id_col, text_col=text_col, k=k)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    b_side = F.broadcast(b) if small else b
    inter = (
        a.join(b_side, (F.col(f"a.shingle") == F.col(f"b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"))
        .agg(F.count("*").alias("inter"))
    )
    j = (
        inter.join(sizes.withColumnsRenamed({id_col: "d1", "n": "n1"}), "d1")
        .join(sizes.withColumnsRenamed({id_col: "d2", "n": "n2"}), "d2")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double") / (F.col("n1") + F.col("n2") - F.col("inter")),
        )
    )
    return j.where(F.col("jaccard") >= threshold).select(
        "d1", "d2", "inter", "n1", "n2", "jaccard"
    )


def containment_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Asymmetric set-containment near-dup pairs: for every doc pair
    sharing a k-word shingle, ``c1 = inter/n1`` (the fraction of d1's
    shingle set inside d2) and ``c2 = inter/n2``; keep pairs where
    ``greatest(c1, c2) >= threshold``. This is the quote-inclusion /
    subset-duplicate detector symmetric Jaccard structurally misses: a
    short doc fully embedded in a long one has Jaccard ~ n1/n2 (tiny)
    but containment 1.0.

    Same candidate generation as ``ngram_jaccard_pairs`` (shingle
    equi-join — candidates only from shared shingles, bodies never
    shuffle; AQE splits boilerplate-shingle skew). The prefix-filter
    shortcut is deliberately NOT reused: its pruning bound is derived
    from the symmetric Jaccard inequality and does not hold for
    one-sided containment — for 100 TB corpora the scale path is
    blocking on each doc's rarest shingles (frequency-ascending, the
    same DF-rank machinery) which preserves the containment guarantee
    for the SMALLER side."""
    sh = _doc_shingles(_spread(docs), id_col=id_col, text_col=text_col, k=k)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"))
        .agg(F.count("*").alias("inter"))
    )
    c = (
        inter.join(sizes.withColumnsRenamed({id_col: "d1", "n": "n1"}), "d1")
        .join(sizes.withColumnsRenamed({id_col: "d2", "n": "n2"}), "d2")
        .withColumn("c1", F.col("inter").cast("double") / F.col("n1"))
        .withColumn("c2", F.col("inter").cast("double") / F.col("n2"))
    )
    return c.where(F.greatest("c1", "c2") >= F.lit(threshold)).select(
        "d1", "d2", "inter", "n1", "n2", "c1", "c2"
    )


def edit_distance_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_len: int = 16,
    cmp_len: int = 80,
    max_dist: int = 8,
) -> DataFrame:
    """Blocked Levenshtein near-dup pairs: ``(d1, d2, dist)`` with
    ``d1 < d2`` and edit distance over the first ``cmp_len`` normalized
    chars at most ``max_dist``.

    Levenshtein is O(len^2) per pair, so all-pairs is never an option;
    the standard blocking trick buckets docs by their normalized
    ``block_len``-char prefix and compares within buckets only. The
    shuffle moves (id, block, cmp_len-char snippet) — never bodies —
    and the candidate join is a plain equi-join on the block key, which
    AQE skew-splits if one prefix is hot (e.g. boilerplate headers).
    Recall bound: catches pairs whose edits all fall after the block
    prefix (head-stable near-dups: appended footers, truncations,
    trailing edits); prefix-edited dups need a second pass on a suffix
    or shingle block — that family is `minhash_verified_pairs`."""
    norm = F.lower(F.trim(F.col(text_col)))
    base = docs.select(
        F.col(id_col),
        F.substring(norm, 1, block_len).alias("blk"),
        F.substring(norm, 1, cmp_len).alias("snip"),
    )
    a, b = base.alias("a"), base.alias("b")
    dist = F.levenshtein(F.col("a.snip"), F.col("b.snip"))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("d1"),
            F.col(f"b.{id_col}").alias("d2"),
            dist.alias("dist"),
        )
        .where(F.col("dist") <= max_dist)
    )


def jaccard_prefix_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs (same output as `ngram_jaccard_pairs`)
    via PPJoin-style prefix filtering — the shape that survives when the
    full shingle self-join doesn't.

    Guarantee: order every doc's shingle set by ascending global
    document frequency; two sets with Jaccard >= t MUST share a token
    within each one's first ``|x| - ceil(t*|x|) + 1`` tokens. So the
    candidate join explodes only that prefix — a ~(1-t) fraction of each
    set — and, decisively, the corpus-hot shingles (boilerplate, common
    phrases) sort LAST and almost never enter a prefix: the skewed join
    buckets that dominate the naive self-join are gone by construction,
    not by AQE repair. A min/max size filter prunes candidates whose
    length ratio already caps Jaccard below t; exact verification on
    sorted 64-bit shingle-hash arrays restores exactness.

    Shuffles: DF count (map-combined, key = shingle hash), rank join,
    per-doc regroup, prefix candidate join — all on fixed-width hashes.
    The prefix rows CARRY the doc's full sorted shingle-hash set
    (~few hundred bytes/doc), so candidates verify inline off the join's
    own columns — the alternative (re-joining shingle sets per side, one
    subtree recompute each; join keys d1/d2 defeat exchange reuse) was
    3x the shingle passes. Lossless: output thresholded on TRUE
    Jaccard."""
    sh = _doc_shingles(_spread(docs), id_col=id_col, text_col=text_col, k=k).select(
        F.col(id_col), F.xxhash64("shingle").alias("h")
    )
    df_cnt = sh.groupBy("h").agg(F.count("*").alias("cnt"))
    ranked = sh.join(df_cnt, "h")
    lists = ranked.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("cnt", "h"))).alias("toks")
    )
    n = F.size("toks")
    prefix_n = F.greatest(
        F.lit(1), n - F.ceil(F.lit(threshold) * n).cast("int") + F.lit(1)
    )
    prefix = lists.select(
        F.col(id_col),
        n.alias("n"),
        F.sort_array(F.transform("toks", lambda t: t["h"])).alias("sh"),
        F.explode(F.slice("toks", F.lit(1), prefix_n)).alias("tok"),
    ).select(id_col, "n", "sh", F.col("tok.h").alias("h"))
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            # size filter: max achievable Jaccard is min(n1,n2)/max(n1,n2)
            & (
                F.least("a.n", "b.n").cast("double") / F.greatest("a.n", "b.n")
                >= F.lit(threshold)
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("d1"),
            F.col(f"b.{id_col}").alias("d2"),
            F.col("a.sh").alias("sh1"),
            F.col("b.sh").alias("sh2"),
        )
        .dropDuplicates(["d1", "d2"])
    )
    inter = F.size(F.array_intersect("sh1", "sh2"))
    union = F.size("sh1") + F.size("sh2") - inter
    return (
        cand.select(
            "d1", "d2",
            inter.alias("inter"),
            F.size("sh1").alias("n1"),
            F.size("sh2").alias("n2"),
            (inter.cast("double") / union).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """Per-doc MinHash signature as ``sig: array<bigint>[num_hashes]``.
    Documents with no shingles (< k tokens) get no signature row.

    The ``num_hashes`` permutations are an affine universal family over
    a 32-bit md5-derived shingle hash: ONE md5 per shingle, then
    ``num_hashes`` exact-integer ``(a*h + b) mod 2^31-1`` ops. Portable —
    the DuckDB oracle recomputes identical signatures, which is what
    upgrades the whole MinHash family from rows-only to the hard
    value-hash gate."""
    # min() is duplicate-insensitive and partial aggregation merges
    # repeats map-side, so the shingle-dedup exchange is pure overhead.
    sh = _doc_shingles(docs, id_col=id_col, text_col=text_col, k=k, dedup=False)
    base = (ph.md5_int32("shingle") % F.lit(ph.MERSENNE31)).alias("hb")
    sh = sh.select(id_col, base)
    mins = [
        F.min(ph.affine(F.col("hb"), a, b)).alias(f"h{i}")
        for i, (a, b) in enumerate(ph.hash_family(num_hashes))
    ]
    sig = sh.groupBy(id_col).agg(*mins)
    return sig.select(id_col, F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def _band_buckets(
    signatures: DataFrame,
    *,
    id_col: str,
    bands: int,
    rows_per_band: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Explode a signature frame into ``(id, band, bucket)`` rows — the
    equi-join key space for LSH candidate generation.

    ``carry`` keeps the named payload columns (e.g. the full ``sig``
    array, or the exact shingle-hash set ``sh``) on every band row.
    That widens the banding shuffle (~8 KB/doc for 64 hashes x 16 bands
    vs ~130 B/doc), but lets the consumer compute signature agreement or
    exact overlap straight off the candidate join — without it,
    attaching estimates means TWO more joins that each recompute the
    whole signature subtree (self-join exchange reuse doesn't apply: the
    estimate joins key on d1/d2, a different partitioning). Recomputing
    the md5-affine signatures / shingle sets is the dominant cost at any
    scale, so carrying wins."""
    band_hashes = F.array(
        *[
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.element_at("sig", b * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ],
                    )
                ),
                1,
                16,
            )
            for b in range(bands)
        ]
    )
    cols = [F.col(id_col), F.posexplode(band_hashes).alias("band", "bucket")]
    cols.extend(F.col(c) for c in carry)
    return signatures.select(*cols)


def minhash_lsh_candidates(
    signatures: DataFrame,
    *,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs
    (d1 < d2, distinct). Probability a pair with Jaccard j collides:
    1 - (1 - j^r)^b — (16, 4) puts the S-curve threshold near 0.5.

    Bucket key: md5 of the '|'-joined band values (portable, 16-char
    key), so the bucket join shuffles fixed-width keys only."""
    buckets = _band_buckets(
        signatures, id_col=id_col, bands=bands, rows_per_band=rows_per_band
    )
    a, b_ = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"))
        .dropDuplicates(["d1", "d2"])
    )


def minhash_lsh_candidates_between(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH candidates BETWEEN two disjoint signature sets: each new doc
    paired with every corpus doc sharing a band bucket -> ``(d1=new,
    d2=corpus)``. No new x new or corpus x corpus pairs, no ordering
    constraint — the sides are different populations.

    This is the incremental-ingestion shape: the corpus side's buckets
    are computed once per batch here, but at scale they'd be a stored
    table appended per accepted batch, so each ingest shuffles only the
    new batch's buckets against a bucket-partitioned corpus index."""
    kw = dict(bands=bands, rows_per_band=rows_per_band)
    a = _band_buckets(new_sigs, id_col=id_col, **kw).alias("a")
    b = _band_buckets(corpus_sigs, id_col=id_col, **kw).alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"))
        .dropDuplicates(["d1", "d2"])
    )


def minhash_estimated_jaccard(
    candidates: DataFrame, signatures: DataFrame, *, id_col: str = "doc_id"
) -> DataFrame:
    """Attach the MinHash Jaccard estimate (fraction of agreeing signature
    positions) to candidate pairs."""
    s1 = signatures.select(F.col(id_col).alias("d1"), F.col("sig").alias("sig1"))
    s2 = signatures.select(F.col(id_col).alias("d2"), F.col("sig").alias("sig2"))
    agree = F.aggregate(
        F.zip_with("sig1", "sig2", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        candidates.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("est_jaccard", agree / F.size("sig1"))
        .select("d1", "d2", "est_jaccard")
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup detection: signatures -> banding ->
    candidate pairs -> estimate filter.

    The band rows CARRY their signature (see ``_band_buckets``), so the
    estimate is one `zip_with` over the candidate join's own columns —
    the alternative (re-joining the signature table per side, as
    `minhash_estimated_jaccard` does for externally-supplied pairs)
    recomputes the signature subtree twice and was the whole-query
    bottleneck (~10x) with the md5-portable signatures."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        _spread(docs),
        id_col=id_col,
        text_col=text_col,
        k=k,
        num_hashes=num_hashes,
    )
    buckets = _band_buckets(
        sigs, id_col=id_col, bands=bands, rows_per_band=rows_per_band,
        carry=("sig",),
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("d1"),
            F.col(f"b.{id_col}").alias("d2"),
            F.col("a.sig").alias("sig1"),
            F.col("b.sig").alias("sig2"),
        )
        .dropDuplicates(["d1", "d2"])
    )
    agree = F.aggregate(
        F.zip_with("sig1", "sig2", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cand.withColumn("est_jaccard", agree / F.size("sig1"))
        .where(F.col("est_jaccard") >= threshold)
        .select("d1", "d2", "est_jaccard")
    )


# -- SimHash ----------------------------------------------------------------

SIMHASH_BITS = 64


def simhash(text: Column | str, *, bits: int = SIMHASH_BITS) -> Column:
    """64-bit SimHash over whitespace tokens: tokens -> 63-bit hash ->
    per-bit +/-1 vote -> sign bits reassembled. Returns bigint (bit 63
    kept zero to stay in two's-complement range).

    The token hash comes from md5 hex chars (portable — the DuckDB
    oracle rebuilds identical fingerprints with exact integer votes).

    The vote stage is an Arrow-batched pandas_udf over the token-hash
    array: one numpy shift/popcount pass per batch. (The pure-expression
    formulation — 63 interpreted fold-aggregates per row — was ~40x
    slower at sf0.1 and dominated the near-dedup suite.)"""
    import numpy as np

    col = F.col(text) if isinstance(text, str) else text
    tokens = F.filter(F.split(F.lower(F.trim(col)), r"\s+"), lambda t: t != "")
    hashes = F.transform(tokens, lambda t: ph.md5_int63(t))

    shifts = np.arange(bits - 1, dtype=np.int64)
    weights = np.int64(1) << shifts

    @pandas_udf("long")
    def vote(hs: pd.Series) -> pd.Series:
        out = np.zeros(len(hs), dtype=np.int64)
        for i, h in enumerate(hs):
            if h is None or len(h) == 0:
                continue
            arr = np.asarray(h, dtype=np.int64)
            bits_m = (arr[:, None] >> shifts) & 1  # n_tokens x (bits-1)
            votes = (2 * bits_m - 1).sum(axis=0)
            out[i] = weights[votes > 0].sum()
        return pd.Series(out)

    return vote(hashes)


def simhash_near_dup_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming, found without
    a pairwise scan: split the 64-bit signature into (max_hamming + 1)
    bands — any pair within the distance budget must agree exactly on at
    least one band (pigeonhole), so candidates come from an equi-join on
    (band, band_bits)."""
    n_bands = max_hamming + 1
    width = SIMHASH_BITS // n_bands
    sigs = _spread(docs).select(
        F.col(id_col), simhash(text_col).alias("sig")
    )
    bands = F.array(
        *[
            F.shiftrightunsigned(F.col("sig"), b * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias(f"b{b}")
            for b in range(n_bands)
        ]
    )
    buckets = sigs.select(id_col, "sig", F.posexplode(bands).alias("band", "bits"))
    a, b_ = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("d1"),
            F.col(f"b.{id_col}").alias("d2"),
            F.col("a.sig").alias("sig1"),
            F.col("b.sig").alias("sig2"),
        )
        .dropDuplicates(["d1", "d2"])
    )
    hamming = F.bit_count(F.col("sig1").bitwiseXOR(F.col("sig2")))
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )


def hamming_hash_pairs(
    hashes: DataFrame,
    *,
    id_col: str = "media_id",
    hash_col: str = "dhash",
    bits: int = 63,
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs within ``max_hamming`` bits on an integer hash column, found
    without a pairwise scan — the generic Hamming half of SimHash dedup,
    reusable for any fixed-width signature (image dHash/aHash, audio
    fingerprints): split the ``bits``-bit hash into ``max_hamming + 1``
    contiguous bands (pigeonhole: any pair within budget agrees exactly
    on >= 1 band), equi-join on (band, band_bits), then exact popcount on
    the candidates. Bands take uneven widths when ``bits`` doesn't divide
    evenly, so every bit is covered. Only (id, hash) rows shuffle."""
    n_bands = max_hamming + 1
    base, extra = divmod(bits, n_bands)
    widths = [base + (1 if i < extra else 0) for i in range(n_bands)]
    offsets = [sum(widths[:i]) for i in range(n_bands)]
    bands = F.array(
        *[
            F.shiftrightunsigned(F.col(hash_col), offsets[i])
            .bitwiseAND(F.lit((1 << widths[i]) - 1))
            for i in range(n_bands)
        ]
    )
    buckets = hashes.select(
        F.col(id_col), F.col(hash_col).alias("sig"),
        F.posexplode(bands).alias("band", "bits"),
    )
    a, b_ = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("d1"),
            F.col(f"b.{id_col}").alias("d2"),
            F.col("a.sig").alias("sig1"),
            F.col("b.sig").alias("sig2"),
        )
        .dropDuplicates(["d1", "d2"])
    )
    hamming = F.bit_count(F.col("sig1").bitwiseXOR(F.col("sig2")))
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )


def exact_jaccard_for_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    docs2: DataFrame | None = None,
) -> DataFrame:
    """Exact k-shingle Jaccard computed ONLY for the given candidate pairs
    (d1, d2) — the verification half of detect-approx -> verify-exact.

    Each doc carries its shingle set as sorted 64-bit hashes (fixed-width;
    bodies never join), so the per-pair cost is one array intersection of
    the two candidate docs, not a corpus-wide shingle self-join. Exact up
    to xxhash64 shingle collisions (~2^-64 per shingle pair).

    ``docs2`` supplies the d2 side when the pair sides come from
    different frames (incremental new-vs-corpus verification); default
    is the self-join case."""

    def _sets(d: DataFrame) -> DataFrame:
        # collect_set dedups (map-side, via partial aggregation) — the
        # dropDuplicates exchange would be a second, redundant shuffle.
        return (
            _doc_shingles(
                _spread(d), id_col=id_col, text_col=text_col, k=k, dedup=False
            )
            .groupBy(id_col)
            .agg(F.sort_array(F.collect_set(F.xxhash64("shingle"))).alias("sh"))
        )

    sets_df = _sets(docs)
    sets2_df = sets_df if docs2 is None else _sets(docs2)
    s1 = sets_df.select(F.col(id_col).alias("d1"), F.col("sh").alias("sh1"))
    s2 = sets2_df.select(F.col(id_col).alias("d2"), F.col("sh").alias("sh2"))
    joined = pairs.select("d1", "d2").join(s1, "d1").join(s2, "d2")
    inter = F.size(F.array_intersect("sh1", "sh2"))
    union = F.size("sh1") + F.size("sh2") - inter
    return joined.select(
        "d1", "d2",
        inter.alias("inter"),
        F.size("sh1").alias("n1"),
        F.size("sh2").alias("n2"),
        (inter.cast("double") / union).alias("jaccard"),
    )


def minhash_verified_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """The production near-dedup shape at 100 TB: MinHash-LSH generates
    candidates (no pairwise scan), exact Jaccard verifies each candidate
    (no estimation error in the final answer). Output rows carry the TRUE
    jaccard, thresholded exactly: ``(d1, d2, inter, n1, n2, jaccard)``.

    Single shingle pass: ONE groupBy computes both the MinHash mins and
    the exact sorted shingle-hash set (min aggregates and collect_set are
    both duplicate-insensitive, so they share the non-deduped shingle
    explode and its partial-aggregated shuffle). The band rows then CARRY
    the shingle set (see ``_band_buckets``), so exact verification is an
    ``array_intersect`` off the candidate join's own columns. The
    composed detect-then-verify alternative
    (``exact_jaccard_for_pairs(docs, minhash_lsh_candidates(...))``)
    shingles the corpus twice and re-joins the sets per pair side — it
    measured 1.6x slower at sf0.1."""
    rows_per_band = num_hashes // bands
    sh = _doc_shingles(
        _spread(docs), id_col=id_col, text_col=text_col, k=k, dedup=False
    )
    base = sh.select(
        id_col,
        (ph.md5_int32("shingle") % F.lit(ph.MERSENNE31)).alias("hb"),
        F.xxhash64("shingle").alias("xh"),
    )
    mins = [
        F.min(ph.affine(F.col("hb"), a, b)).alias(f"h{i}")
        for i, (a, b) in enumerate(ph.hash_family(num_hashes))
    ]
    per_doc = (
        base.groupBy(id_col)
        .agg(*mins, F.sort_array(F.collect_set("xh")).alias("sh"))
        .select(
            id_col,
            F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"),
            "sh",
        )
    )
    buckets = _band_buckets(
        per_doc, id_col=id_col, bands=bands, rows_per_band=rows_per_band,
        carry=("sh",),
    )
    a, b_ = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("d1"),
            F.col(f"b.{id_col}").alias("d2"),
            F.col("a.sh").alias("sh1"),
            F.col("b.sh").alias("sh2"),
        )
        .dropDuplicates(["d1", "d2"])
    )
    inter = F.size(F.array_intersect("sh1", "sh2"))
    union = F.size("sh1") + F.size("sh2") - inter
    return (
        cand.select(
            "d1", "d2",
            inter.alias("inter"),
            F.size("sh1").alias("n1"),
            F.size("sh2").alias("n2"),
            (inter.cast("double") / union).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_incremental_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental ingestion dedup gate: which NEW documents near-
    duplicate something already in the corpus. MinHash-LSH candidates
    between the two sets (never corpus x corpus — the corpus was already
    deduped when it was ingested), then exact Jaccard verification.
    Returns ``(d1=new_id, d2=corpus_id, inter, n1, n2, jaccard)``;
    anti-join ``new_docs`` against the d1 column to admit only novel
    docs.

    At 100 TB the corpus side's signatures/buckets are a stored,
    bucket-partitioned index (computed once per accepted batch), so the
    per-batch cost scales with the batch, not the corpus."""
    sig_kw = dict(id_col=id_col, text_col=text_col, k=k, num_hashes=num_hashes)
    new_sigs = minhash_signatures(_spread(new_docs), **sig_kw)
    corpus_sigs = minhash_signatures(_spread(corpus_docs), **sig_kw)
    cand = minhash_lsh_candidates_between(
        new_sigs, corpus_sigs, id_col=id_col, bands=bands,
        rows_per_band=num_hashes // bands,
    )
    exact = exact_jaccard_for_pairs(
        new_docs, cand, id_col=id_col, text_col=text_col, k=k, docs2=corpus_docs
    )
    return exact.where(F.col("jaccard") >= threshold)


# -- Persisted LSH signature index (round 9) ---------------------------------


def write_signature_index(
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> None:
    """APPEND a batch's LSH band buckets ``(id, band, bucket)`` to the
    stored signature index — the table `minhash_incremental_pairs`'s
    docstring promised ("computed once per accepted batch"), built.
    Band-bucket membership is a SET, and set union is idempotent, so
    the index runs the HLL/zone-store contract: a replayed batch
    re-appends byte-identical rows that the reader's distinct absorbs —
    no version bookkeeping. Partitioned by ``band`` so a candidate
    probe that bands the new batch first can prune index partitions.

    100 TB shape: ~bands rows x ~130 B per accepted doc, appended once
    at admission; every later ingest batch probes these rows instead of
    re-shingling/re-hashing the corpus — the per-batch dedup cost
    becomes O(batch + collisions), independent of corpus size."""
    sigs = minhash_signatures(
        _spread(docs),
        id_col=id_col, text_col=text_col, k=k,
        num_hashes=num_hashes,
    )
    bb = _band_buckets(
        sigs, id_col=id_col, bands=bands,
        rows_per_band=num_hashes // bands,
    )
    (
        bb.select(id_col, "band", "bucket")
        .write.mode("append")
        .partitionBy("band")
        .parquet(path)
    )


def _sig_index_fold(spark, path: str, transform) -> dict:
    """``fs.fold_in`` over the band-partitioned index, plus its row
    count. A transform may empty the store (retiring every indexed
    doc): a parquet read of the file-less store would raise "unable to
    infer schema", so an empty listing reports rows=0 without reading."""
    from aqi_featurestore_spark.sources import fs

    stats = fs.fold_in(spark, path, transform, partition_by="band")
    stats["rows"] = spark.read.parquet(path).count() if stats["files_after"] else 0
    return stats


def compact_signature_index(spark, path: str) -> dict:
    """Fold the signature index's append log (one small file set per
    admitted batch, forever) into one distinct row set per band —
    round-9 verdict ask #5's retention half. Bucket membership is a
    SET, so the fold is lossless by construction: candidates, and
    therefore admissions, are bit-identical before and after
    (pytest-pinned), and the fold is concurrent-append/crash safe (see
    :func:`fs.fold_in`). Run it whenever probe-side read
    amplification matters — the same cadence discipline as the
    HLL/zone/CMS store compactions."""
    return _sig_index_fold(spark, path, lambda df: df)


def retire_from_signature_index(
    spark, path: str, retired_ids, *, id_col: str = "doc_id"
) -> dict:
    """Drop every bucket row of ``retired_ids`` (a 1-column DataFrame of
    retired/vacuumed corpus doc ids) from the stored index — the
    lifecycle complement the round-9 verdict asked for: without it,
    docs removed from the corpus keep surfacing as ghost candidates
    forever. Ghosts are CORRECTNESS-harmless (the exact-verify
    semi-join finds no corpus row), but each one costs a candidate
    probe + a verify join row per colliding batch — retirement is what
    keeps probe cost proportional to the LIVE corpus.

    Shape: one anti-join rewrite through ``fs.fold_in``
    (crash/concurrent-append safe; a retired doc's rows appended after
    the snapshot would survive, so retire AFTER the corpus retirement
    is visible). Retired ids broadcast — retirement batches are small
    relative to the index."""
    ids = retired_ids.select(F.col(id_col)).distinct()

    def _drop(df):
        return df.join(F.broadcast(ids), id_col, "left_anti")

    return _sig_index_fold(spark, path, _drop)


def lsh_candidates_from_index(
    new_docs: DataFrame,
    index_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """LSH candidates between a new batch and the STORED index:
    ``(d1=new_id, d2=corpus_id)``. The corpus side is a parquet read of
    fixed-width bucket rows — never re-shingled, never re-hashed; only
    the batch is sketched. Duplicate index rows from replayed appends
    are absorbed by the distinct."""
    spark = new_docs.sparkSession
    sigs = minhash_signatures(
        _spread(new_docs),
        id_col=id_col, text_col=text_col, k=k,
        num_hashes=num_hashes,
    )
    a = _band_buckets(
        sigs, id_col=id_col, bands=bands,
        rows_per_band=num_hashes // bands,
    ).alias("a")
    idx = spark.read.parquet(index_path).distinct().alias("b")
    return (
        a.join(
            idx,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"))
        .dropDuplicates(["d1", "d2"])
    )
