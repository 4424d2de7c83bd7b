"""Persisted mergeable-sketch store: portable HLL register files (and
KMV bottom-k value sketches) as tables, maintained by APPEND and read
by MERGE.

The maintenance half of the portable-HLL family
(plans/corpus_stats.py `hll_distinct_audit` / `hll_merge_rollup` prove
the estimator and the merge algebra against the DuckDB oracle; this
module makes the algebra OPERATIONAL): per-batch partial register
files append to a parquet store keyed (group, idx); readers merge with
register-wise MAX. Because MAX is associative, commutative and
IDEMPOTENT, appends are duplicate-tolerant — a replayed streaming
epoch, a re-run over the same files, or overlapping batches change
nothing — and merge order never matters, so maintenance re-scans
REGISTERS, never tokens (the property that makes distinct-count upkeep
incremental at 100 TB; yesterday's registers are never rebuilt).

Hashing and estimator are bit-identical to the audit queries (same
md5-derived 63-bit hash with the ``'hll|'`` domain prefix, same
bin()-length rank, same exact two-limb harmonic sum and pinned double
expression), pinned by tests/test_streaming_sketches.py comparing the
store's estimates to `hll_distinct_audit`'s oracle-verified column.

Reference analogue: the reference's online store keeps ONE current
value per key (Redis overwrite, airflow/dags/load.py:141 behavior
note); a register store keeps one current MAX per (group, idx) — the
same latest-state discipline, reached through an idempotent merge
instead of an overwrite.

Store I/O is ``sources/fs``'s: every partial (HLL, KMV, zone, CMS) and
the CMS base append through ``fs.append``, which records each store's
schema on its first write and refuses a batch that differs from it;
the compactions rewrite through ``fs.fold_in``; every read passes the
recorded schema (``fs.reader`` / ``fs.read_dir``), so building a merge
runs no schema-inference job, and a partial log whose epochs were all
folded reads as an empty frame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from aqi_featurestore_spark.functions import portable_hash as _ph
from aqi_featurestore_spark.sources import fs

# Mirrors of the plans/corpus_stats.py HLL constants (literals; lock-step
# is pinned by the estimate-equality test, not by imports — the plans
# modules stay self-contained for the oracle SQL).
HLL_P = 8
HLL_M = 1 << HLL_P
HLL_RMAX = (63 - HLL_P) + 1
HLL_LIMB = 1 << 28
HLL_ALPHA_NUM = float(0.7213 / (1 + 1.079 / HLL_M) * HLL_M * HLL_M * (1 << HLL_RMAX))
HLL_SMALL = 2.5 * HLL_M


def hll_registers(
    df: DataFrame, group_cols: list[str], token_col: str
) -> DataFrame:
    """Per-group HLL register file over a token stream: (group...,
    idx, m). No token dedup is needed — a duplicate token lands on the
    same (idx, rank), and MAX absorbs it — so the build is one
    map-side-combining aggregate whose shuffle carries at most
    n_groups x 256 tiny rows."""
    h63 = _ph.md5_int63(
        F.concat(F.lit("hll|"), F.col(token_col).cast("string"))
    )
    rr = df.select(
        *group_cols,
        (h63 % HLL_M).alias("idx"),
        F.shiftright(h63, HLL_P).cast("long").alias("rest"),
    )
    return (
        rr.select(
            *group_cols,
            "idx",
            F.when(F.col("rest") == 0, F.lit(HLL_RMAX))
            .otherwise(F.lit(HLL_RMAX) - F.length(F.bin("rest")))
            .cast("long")
            .alias("m"),
        )
        .groupBy(*group_cols, "idx")
        .agg(F.max("m").alias("m"))
    )


def write_sketch_partial(regs: DataFrame, path: str) -> None:
    """APPEND a partial register file. Partials never overwrite —
    the store is a log of register files; the merge is read-time
    (or fold into a base via :func:`compact_sketch_store`). The HLL,
    KMV and zone partial logs all append here."""
    fs.append(regs.sparkSession, path, regs)


def read_merged_registers(
    spark: SparkSession, path: str, group_cols: list[str]
) -> DataFrame:
    """Merge every persisted partial with register-wise MAX — equal,
    bit-for-bit, to registers built directly over the union of every
    batch's tokens (the `hll_merge_rollup` theorem)."""
    return (
        fs.reader(spark, path).parquet(path)
        .groupBy(*group_cols, "idx")
        .agg(F.max("m").alias("m"))
    )


def hll_estimate(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Per-group cardinality estimate from a register frame — the same
    exact two-limb harmonic sum + one pinned double expression as the
    oracle-verified audit query. Output: (group..., n_empty_regs,
    hll_estimate).

    Accepts EITHER a merged register frame or the raw partial log: the
    MAX-merge is folded in up front, so duplicate (group, idx) rows
    (which would otherwise drive ``v = 256 - count(*)`` negative and
    double-count the harmonic sum) are absorbed. Idempotent on
    already-merged input — merging merged registers is the identity."""
    regs = regs.groupBy(*group_cols, "idx").agg(F.max("m").alias("m"))
    term = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST({HLL_RMAX} - m AS INT))"
    )
    limbs = regs.select(
        *group_cols,
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST({HLL_RMAX} - m AS INT))"
            f" div {HLL_LIMB}"
        ).alias("thi"),
        (term % F.lit(HLL_LIMB)).alias("tlo"),
    ).groupBy(*group_cols).agg(
        F.sum("thi").cast("long").alias("hi"),
        F.sum("tlo").cast("long").alias("lo"),
        (F.lit(HLL_M) - F.count("*")).cast("long").alias("v"),
    )
    raw = F.lit(HLL_ALPHA_NUM) / (
        (F.col("hi") + F.col("v") * HLL_LIMB).cast("double")
        * F.lit(float(HLL_LIMB))
        + F.col("lo").cast("double")
    )
    e = F.when(
        (raw <= F.lit(HLL_SMALL)) & (F.col("v") > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(HLL_M) / F.col("v").cast("double")),
    ).otherwise(raw)
    return limbs.select(
        *group_cols,
        F.col("v").alias("n_empty_regs"),
        F.round(e, 4).alias("hll_estimate"),
    )


def compact_sketch_store(
    spark: SparkSession, path: str, group_cols: list[str]
) -> dict:
    """Fold the partial log into ONE merged base file set — the
    sketch-store analogue of `vacuum_ann_index` / `vacuum_model_registry`
    (the round-8 retention discipline applied to the store this module
    introduces, so it does not regrow the unbounded-append problem those
    vacuums closed). MAX-merge is lossless, so estimates are
    bit-identical before and after; see :func:`fs.fold_in` for why the
    fold is safe under a concurrent streaming appender. Returns
    {'files_before', 'files_after', 'groups'}."""

    def _merge(df: DataFrame) -> DataFrame:
        return df.groupBy(*group_cols, "idx").agg(F.max("m").alias("m"))

    stats = fs.fold_in(spark, path, _merge)
    stats["groups"] = (
        fs.reader(spark, path).parquet(path).select(*group_cols).distinct().count()
    )
    return stats


# -- KMV bottom-k partials (the second mergeable sketch) --------------------

KMV_K = 256


def kmv_partial(
    df: DataFrame, group_cols: list[str], token_col: str
) -> DataFrame:
    """Per-group bottom-K value sketch over a token stream: (group...,
    h). Same hash domain as `kmv_set_cardinality`
    (plans/corpus_stats.py), so store sketches compose with the
    pairwise set-algebra query. Duplicate tokens collapse by value
    (min-K is duplicate-insensitive after the distinct), so a partial
    is the true bottom-min(K, |batch set|) of its batch — the
    precondition of the bottom-k merge theorem."""
    h63 = _ph.md5_int63(
        F.concat(F.lit("kmv|"), F.col(token_col).cast("string"))
    )
    hv = df.select(*group_cols, h63.alias("h")).distinct()
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        hv.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= KMV_K)
        .select(*group_cols, "h")
    )


def read_merged_kmv(
    spark: SparkSession, path: str, group_cols: list[str]
) -> DataFrame:
    """Merge persisted partials: bottom-K of the deduped value union —
    equal, by the bottom-k merge theorem, to the sketch built directly
    over every batch's tokens in one pass (each partial is a true
    bottom-min(K,·) of its batch)."""
    from pyspark.sql import Window

    vals = fs.reader(spark, path).parquet(path).distinct()
    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        vals.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= KMV_K)
        .select(*group_cols, "h")
    )


KMV_NUM = float((KMV_K - 1) << 63)


def kmv_estimate(sketch: DataFrame, group_cols: list[str]) -> DataFrame:
    """Per-group distinct estimate from a bottom-K sketch frame:
    (K-1) * 2^63 / kth-min, degenerating to the exact sketch size for
    sub-K sets — the same pinned expression as the oracle-verified
    pairwise query. Output: (group..., n_sketch, kmv_estimate)."""
    from pyspark.sql import Window

    # Fold the bottom-K merge in up front (same guard as hll_estimate):
    # idempotent on merged input, correct on the raw partial log.
    w = Window.partitionBy(*group_cols).orderBy("h")
    sketch = (
        sketch.distinct()
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= KMV_K)
        .select(*group_cols, "h")
    )
    agg = sketch.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n_sketch"),
        F.max("h").alias("kth"),
    )
    e = F.when(
        F.col("n_sketch") < KMV_K, F.col("n_sketch").cast("double")
    ).otherwise(F.lit(KMV_NUM) / F.col("kth").cast("double"))
    return agg.select(
        *group_cols,
        "n_sketch",
        F.round(e, 4).alias("kmv_estimate"),
    )


# -- Zone-stats partials (MIN/MAX merge: idempotent, like HLL) --------------


def zone_minmax(
    df: DataFrame, zone_cols: list[str], stat_cols: list[str]
) -> DataFrame:
    """Per-zone min/max statistics over a batch — the parquet-footer
    zone map AS A MAINTAINED TABLE (what plans/quality_tpch.py
    `zone_map_skip_audit` promises: "in production the stats table
    persists at write time"). Output: (zone..., min_<c>, max_<c> per
    stat column). MIN and MAX are associative, commutative and
    IDEMPOTENT, so this store runs the bookkeeping-free HLL/KMV
    contract: replays are absorbed, partials merge in any order, and
    yesterday's stats never recompute. Deliberately NO row count —
    counts merge by SUM, which would silently break the idempotent
    contract (a counted zone store belongs to the CMS epoch-versioned
    discipline instead)."""
    aggs = []
    for c in stat_cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return df.groupBy(*zone_cols).agg(*aggs)


def read_merged_zone(
    spark: SparkSession, path: str, zone_cols: list[str], stat_cols: list[str]
) -> DataFrame:
    """Merge persisted zone partials: min-of-mins / max-of-maxes —
    equal to one direct pass over the union of every batch's rows."""
    df = fs.reader(spark, path).parquet(path)
    aggs = []
    for c in stat_cols:
        aggs.append(F.min(f"min_{c}").alias(f"min_{c}"))
        aggs.append(F.max(f"max_{c}").alias(f"max_{c}"))
    return df.groupBy(*zone_cols).agg(*aggs)


def zone_skip_decisions(
    merged: DataFrame, preds: dict[str, tuple[str, object]]
) -> DataFrame:
    """Evaluate scan-planner skip decisions against the merged stats:
    ``preds`` maps a label to (stat_col, ">= cut" threshold); a zone
    skips when its max falls below the cut — exactly the one-sided
    zone-map rule the audit queries verify against row data. Output:
    (zone..., skip_<label> per predicate)."""
    cols = [
        F.when(F.col(f"max_{c}") < F.lit(cut), 1)
        .otherwise(0)
        .cast("int")
        .alias(f"skip_{label}")
        for label, (c, cut) in preds.items()
    ]
    return merged.select("*", *cols)


def compact_zone_store(
    spark: SparkSession, path: str, zone_cols: list[str], stat_cols: list[str]
) -> dict:
    """Fold the zone partial log (lossless: merge-of-merged == merged);
    :func:`fs.fold_in`'s snapshot protocol makes it concurrent-append
    and crash safe."""

    def _merge(df: DataFrame) -> DataFrame:
        aggs = []
        for c in stat_cols:
            aggs.append(F.min(f"min_{c}").alias(f"min_{c}"))
            aggs.append(F.max(f"max_{c}").alias(f"max_{c}"))
        return df.groupBy(*zone_cols).agg(*aggs)

    return fs.fold_in(spark, path, _merge)


# -- CMS partials (SUM-merge: the versioned/epoch-dedup contract) -----------
#
# The third sketch draws the line the first two blur: HLL registers and
# KMV bottom-k merge IDEMPOTENTLY (MAX / set-union), so their stores
# absorb any replay with zero bookkeeping. Count-Min cells merge by SUM
# — associative and commutative (partials still fold in any order) but
# NOT idempotent: a replayed partial DOUBLE-COUNTS. So the CMS store
# runs the E193 versioned-append contract instead (the ANN index-refresh
# discipline): every partial carries its source EPOCH, a re-appended
# epoch is absorbed by epoch-aware dedup, and compaction folds epochs
# <= a recorded watermark into a base snapshot so a stale epoch replayed
# after compaction is dropped by the reader's `epoch > watermark` filter
# rather than silently re-summed. The price of a non-idempotent merge is
# exactly this bookkeeping — which is why the store layout differs:
#
#   {path}/partials/epoch=E/...   per-batch cell counts, appended
#   {path}/base/fold_epoch=W/...  compacted cells, counts folded thru W
#
# Readers take the HIGHEST fold_epoch base (append-then-delete swaps,
# so every crash-window state reads correctly) plus deduped partials
# with epoch > W. Requires the SAME streaming checkpoint across runs —
# a fresh checkpoint restarts epoch numbering and is NOT absorbed
# (unlike the HLL/KMV stores, whose fresh-checkpoint replay tests pass).

CMS_W, CMS_D = 512, 4
CMS_FAM = _ph.hash_family(CMS_D, seed=0xC31)  # lock-step w/ cms_heavy_hitters


def cms_cells(
    df: DataFrame, group_cols: list[str], token_col: str
) -> DataFrame:
    """Per-group CMS cell counts over a token stream: (group..., j,
    col, c) — at most n_groups x d x w rows regardless of batch size.
    Hashing is bit-identical to plans/corpus_stats.py
    `cms_heavy_hitters` (same md5 base, same affine family constants),
    pinned by the estimate-parity test."""
    hb = _ph.md5_int32(F.col(token_col).cast("string")) % F.lit(
        _ph.MERSENNE31
    )
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (_ph.affine(hb, a, b) % F.lit(CMS_W)).alias("col"),
            )
            for j, (a, b) in enumerate(CMS_FAM)
        ]
    )
    return (
        df.select(*group_cols, F.explode(cells).alias("e"))
        .select(*group_cols, "e.j", "e.col")
        .groupBy(*group_cols, "j", "col")
        .agg(F.count("*").cast("long").alias("c"))
    )


def write_cms_partial(cells: DataFrame, path: str, epoch: int) -> None:
    """APPEND an epoch-stamped partial. The epoch is the replay token:
    rows of a re-delivered epoch are byte-identical to the first
    delivery (cells is a groupBy result, unique per (group, j, col)
    within an epoch), so the reader's per-epoch distinct absorbs them."""
    fs.append(
        cells.sparkSession,
        f"{path.rstrip('/')}/partials",
        cells.withColumn("epoch", F.lit(int(epoch))),
        partition_by=("epoch",),
    )


def _cms_base(spark: SparkSession, path: str):
    """(base cells at the highest fold_epoch, watermark) or (None, None)
    before the first compaction."""
    base = fs.read_dir(spark, f"{path.rstrip('/')}/base")
    wm = None if base is None else base.agg(F.max("fold_epoch")).first()[0]
    if wm is None:
        return None, None
    return base.where(F.col("fold_epoch") == wm).drop("fold_epoch"), int(wm)


def read_merged_cms(
    spark: SparkSession, path: str, group_cols: list[str]
) -> DataFrame:
    """Current cell counts: latest base + SUM of deduped partials ABOVE
    the base watermark. Dedup keeps the epoch column in the key, so
    identical cell counts from DIFFERENT epochs still sum while a
    replayed epoch collapses — the non-idempotent-merge bookkeeping."""
    base, wm = _cms_base(spark, path)
    frames = [] if base is None else [base]
    parts = fs.read_dir(spark, f"{path.rstrip('/')}/partials")
    if parts is not None:
        if wm is not None:
            parts = parts.where(F.col("epoch") > wm)
        frames.append(parts.distinct().drop("epoch"))
    if not frames:
        raise ValueError(f"read_merged_cms: empty store at {path}")
    merged = frames[0]
    for f_ in frames[1:]:
        merged = merged.unionByName(f_)
    return merged.groupBy(*group_cols, "j", "col").agg(
        F.sum("c").cast("long").alias("c")
    )


def cms_point_estimate(
    cells: DataFrame,
    probe: DataFrame,
    group_cols: list[str],
    token_col: str,
) -> DataFrame:
    """CMS point query: for each probe row, min over the d rows of its
    hashed cells — est >= true count always (the one-sided CMS error).
    ``cells`` must be the MERGED frame (read_merged_cms); the sketch is
    <= d x w rows per group so the join broadcasts. Output: (group...,
    token, est)."""
    hb = _ph.md5_int32(F.col(token_col).cast("string")) % F.lit(
        _ph.MERSENNE31
    )
    pcells = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (_ph.affine(hb, a, b) % F.lit(CMS_W)).alias("col"),
            )
            for j, (a, b) in enumerate(CMS_FAM)
        ]
    )
    pr = probe.select(
        *group_cols,
        F.col(token_col).alias("token"),
        F.explode(pcells).alias("e"),
    ).select(*group_cols, "token", "e.j", "e.col")
    # LEFT join + coalesce(c, 0): the merged sketch is SPARSE (only
    # touched cells have rows), but an absent cell's true count is 0 —
    # an inner join would drop it from the min, inflating the estimate
    # for unseen tokens (and a token with all d cells absent would
    # vanish from the output instead of returning est=0). Round-9
    # ADVICE fix; one-sidedness (est >= true count) still holds, and a
    # token that DID occur c>0 times has all d cells present with
    # counts >= c, so present-token estimates are unchanged.
    return (
        pr.join(F.broadcast(cells), [*group_cols, "j", "col"], "left")
        .groupBy(*group_cols, "token")
        .agg(
            F.min(F.coalesce(F.col("c"), F.lit(0).cast("long"))).alias("est")
        )
    )


def compact_cms_store(
    spark: SparkSession,
    path: str,
    group_cols: list[str],
    *,
    _pre_fold_hook=None,
) -> dict:
    """Fold partial epochs into a new base snapshot whose ``fold_epoch``
    watermark records what was folded — append-then-delete like
    :func:`fs.fold_in`, so readers are correct at every intermediate
    state: two bases -> highest wins; undeleted folded partials -> the
    `epoch > watermark` filter drops them. After compaction a REPLAY of
    a folded epoch is likewise dropped instead of double-counted —
    the versioned contract surviving its own retention operation.
    No-op (returns unchanged watermark) when nothing new arrived, so
    re-running compaction never doubles the base.

    The fold input is the SNAPSHOTTED epoch set, never a re-listing
    (round-9 ADVICE): re-reading the partials dir after computing
    ``new_wm`` would fold a partial appended by the concurrent stream
    in between into a base stamped ``fold_epoch < its own epoch``,
    while the reader's ``epoch > watermark`` filter still keeps its
    undeleted file — summed TWICE, the exact double-count the epoch
    contract exists to prevent. Streaming epoch ids are monotone, so a
    partial appended after the snapshot has ``epoch > new_wm``: it is
    neither folded nor deleted here, reads correctly alongside the new
    base, and folds on the next compaction (mirrors ``fs.fold_in``'s
    file-snapshot discipline, in epoch space).

    ``_pre_fold_hook``: test-only fault/interleave injection point,
    called between the epoch snapshot and the fold write."""
    root = path.rstrip("/")
    ppath = f"{root}/partials"
    base, wm = _cms_base(spark, path)
    parts = fs.read_dir(spark, ppath)
    epochs = []
    if parts is not None:  # partials were written
        if wm is not None:
            parts = parts.where(F.col("epoch") > wm)
        epochs = sorted(
            int(r["epoch"]) for r in parts.select("epoch").distinct().collect()
        )
    if not epochs:
        return {"folded_through": wm, "files_after": len(fs.list_data_files(spark, path))}
    new_wm = epochs[-1]
    files_before = len(fs.list_data_files(spark, path))
    if _pre_fold_hook is not None:
        _pre_fold_hook()
    snap = (
        fs.reader(spark, ppath).parquet(ppath)
        .where(F.col("epoch").isin(epochs))
        .distinct()
        .drop("epoch")
    )
    merged = snap if base is None else base.unionByName(snap)
    merged = merged.groupBy(*group_cols, "j", "col").agg(
        F.sum("c").cast("long").alias("c")
    )
    fs.append(
        spark,
        f"{root}/base",
        merged.withColumn("fold_epoch", F.lit(new_wm)).repartition(1),
        partition_by=("fold_epoch",),
    )
    if wm is not None:
        fs.delete(spark, f"{root}/base/fold_epoch={wm}")
    for e in epochs:
        fs.delete(spark, f"{ppath}/epoch={e}")
    return {
        "folded_through": new_wm,
        "files_before": files_before,
        "files_after": len(fs.list_data_files(spark, path)),
    }


def compact_kmv_store(
    spark: SparkSession, path: str, group_cols: list[str]
) -> dict:
    """Fold the KMV partial log into one bottom-K base — sketches are
    bit-identical before and after (merge-of-merged == merged); the
    :func:`fs.fold_in` protocol makes it safe under concurrent appends."""
    from pyspark.sql import Window

    def _merge(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(*group_cols).orderBy("h")
        return (
            df.distinct()
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= KMV_K)
            .select(*group_cols, "h")
        )

    return fs.fold_in(spark, path, _merge)
