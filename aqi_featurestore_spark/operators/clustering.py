"""Distributed fixed-iteration k-means (Lloyd's) and SemDeDup-style
semantic deduplication.

The reference has no clustering at all (its similarity surface is the
Redis latest-value store); this family completes the LLM-curation stack:
weekly corpus clustering for mixture balancing, topic pruning, and
cluster-then-prune semantic dedup (Abbas et al., "SemDeDup", 2023 —
public paper; no code consulted).

Design — why this survives 100 TB:

- **Centroids never shuffle the corpus.** Each Lloyd round is (1) a pure
  JVM map assigning every vector to its nearest centroid against
  BROADCAST LITERAL centroid arrays (no join, no shuffle), and (2) one
  posexplode + map-side-combined hash aggregate reducing the corpus to
  exactly ``k x dim`` rows of exact integer micro-unit sums, which are
  collected. The per-round collect is bounded by ``k x dim`` (512 values
  here), NEVER by corpus size — the same dim-bounded-collect discipline
  as ``embeddings.dim_minmax``.
- **Exact integer accumulation.** Vector components are fixed to
  ``round(v * 1e6)`` BIGINT micro-units; centroid sums are exact
  integers, so the reduce is partition-order-free and the whole
  iteration is bit-reproducible — the unrolled DuckDB oracle
  hash-matches every assignment. Distances are computed in doubles with
  pinned operand order (micro-int minus exact-division centroid,
  squared, left-fold sum), identical IEEE ops on both engines.
- **Deterministic seeding.** Seeds are the ``k`` vectors with the
  smallest ``md5('km|' || vec_id)`` (portable_hash md5_int32 — the
  md5-order both engines can reproduce), ties on vec_id. ``orderBy(h,
  id).limit(k)`` compiles to TakeOrderedAndProject — no global sort
  shuffle.
- **Empty clusters carry forward** their previous centroid (mirrored in
  the oracle with a LEFT JOIN coalesce), so every round is total.

``semantic_dedup`` then prunes within clusters: unit-normalized cosine
(same fold as operators/similarity.py) over same-cluster pairs only —
the candidate set is an equi-join on cluster_id, quadratic only within
a cluster, which is the SemDeDup contract (k grows with the corpus so
cluster population stays bounded).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aqi_featurestore_spark.functions import portable_hash as _ph

__all__ = [
    "bound_sql",
    "kmeans_fit",
    "kmeans_assign_col",
    "kmeans_assign_sql",
    "kmeans_cell_col",
    "kmeans_dist_structs_sql",
    "kmeans_min_struct",
    "kmeans_probe_col",
    "floor_micro_sql",
    "matrix_sql",
    "micro_col",
    "micro_sql",
    "nonzero_norm",
    "normalized_jvm",
    "seeded_cell_col",
    "seeded_dist_structs_sql",
    "seeded_probe_col",
    "sql_name",
    "MICRO",
]

MICRO = 1_000_000


def sql_name(col: str) -> str:
    """A column name as SQL text: backtick-quoted, so any name (spaces,
    dots, a name that is also a lambda variable) stays one reference."""
    return "`" + col.replace("`", "``") + "`"


# The vector expressions below are SQL text, parsed by ONE ``F.expr``
# each. Built from Python lambdas, the same trees cost several py4j
# round trips per node; as text they cost one per expression. Lambda
# variables carry reserved ``__`` names, so a lambda body that
# references an outer column named ``x``, ``c``, ``i`` or ``n`` reads
# that column, never the lambda variable.


def micro_sql(vec: str) -> str:
    """SQL text of the micro-unit quantization of a vector fragment:
    ``round(double(x) * 1e6)`` as BIGINT per element (HALF_UP)."""
    return (
        f"transform({vec}, __x -> "
        f"CAST(round(CAST(__x AS DOUBLE) * {MICRO}, 0) AS BIGINT))"
    )


def micro_col(vec_col: str) -> Column:
    """Micro-unit BIGINT array of the vector column named ``vec_col``."""
    return F.expr(micro_sql(sql_name(vec_col)))


def _seed_hash(id_col: str) -> Column:
    return _ph.md5_int32(F.concat(F.lit("km|"), F.col(id_col).cast("string")))


def kmeans_fit(
    df: DataFrame,
    *,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seeding: str = "md5",
    init: list[list[float]] | None = None,
) -> list[list[float]]:
    """Run ``iters`` rounds of Lloyd's and return the final centroids as
    ``k`` lists of doubles in MICRO units (``sum_micro / n`` per
    dimension, exact-int division to double).

    Per round: one no-shuffle assignment map + one hash aggregate down
    to ``k x dim`` rows + one bounded collect. Total Spark work is
    ``iters`` aggregation jobs over the corpus — the minimum any exact
    Lloyd's needs — and the driver only ever holds ``k x dim`` numbers.

    ``seeding``:

    - ``"md5"`` (default, what the registry oracle unrolls): the k
      vectors with smallest md5('km|'||id) — one corpus TakeOrdered(k),
      the cheapest deterministic pseudo-random pick.
    - ``"farthest"``: deterministic farthest-point traversal (Gonzalez
      k-center greedy): seed 0 is the md5-min vector; each next seed is
      the vector maximizing distance-to-nearest-chosen (ties: smallest
      id). k-1 extra TakeOrdered(1) passes, but provably one seed per
      blob when clusters are separated — the quality choice when fit
      cost is dominated by the Lloyd rounds anyway.

    ``init``: WARM-START centroids — skip seeding and continue Lloyd's
    from these (e.g. a persisted serving quantizer). A Lloyd round is a
    pure function of (centroids, data), so ``fit(init=fit(iters=a),
    iters=b)`` is bit-identical to ``fit(iters=a+b)`` (property-pinned
    in tests/test_clustering.py) — the hardlogit warm-start contract
    (operators/linear_model.py) applied to clustering, which is what
    makes a registry/index-based quantizer refresh exact.
    """
    # The fit makes iters (+ k-1 for farthest seeding) full passes over the
    # micro-int projection; persist it ONCE (MEMORY_AND_DISK — spills, never
    # OOMs at scale) so every pass reuses the projected columns instead of
    # re-reading and re-transforming the scan. The cached data is the
    # id + k x dim longs projection, not the source table's full width.
    vc = df.select(
        F.col(id_col).alias("_id"), micro_col(vec_col).alias("_v")
    ).persist()
    try:
        if init is not None:
            if len(init) != k:
                raise ValueError(
                    f"init has {len(init)} centroids, expected k={k}"
                )
            centroids = {
                cid: [float(x) for x in row] for cid, row in enumerate(init)
            }
        elif seeding == "farthest":
            first = (
                vc.select("_id", "_v", _seed_hash("_id").alias("_h"))
                .orderBy("_h", "_id")
                .limit(1)
                .collect()[0]
            )
            chosen = [[float(x) for x in first["_v"]]]
            for _ in range(k - 1):
                m = kmeans_min_struct("_v", chosen)
                far = (
                    vc.select("_id", "_v", m["d"].alias("_d"))
                    .orderBy(F.desc("_d"), F.asc("_id"))
                    .limit(1)
                    .collect()[0]
                )
                chosen.append([float(x) for x in far["_v"]])
            centroids: dict[int, list[float]] = dict(enumerate(chosen))
        elif seeding == "md5":
            seeds = (
                vc.select("_id", "_v", _seed_hash("_id").alias("_h"))
                .orderBy("_h", "_id")
                .limit(k)
                .collect()
            )
            # cid order = (hash, id) rank; round-0 centroid = the seed vector
            centroids = {
                cid: [float(x) for x in r["_v"]] for cid, r in enumerate(seeds)
            }
        else:
            raise ValueError(f"unknown seeding {seeding!r}")
        for _ in range(iters):
            assigned = vc.select(
                "_id",
                "_v",
                kmeans_assign_col("_v", centroids).alias("_cid"),
            )
            stats = (
                assigned.select("_cid", F.posexplode("_v").alias("_dim", "_x"))
                .groupBy("_cid", "_dim")
                .agg(F.sum("_x").alias("_s"), F.count("*").alias("_n"))
                .collect()
            )
            new: dict[int, dict[int, float]] = {}
            for r in stats:
                # exact-int true division — IEEE-identical to DuckDB's
                # CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                new.setdefault(r["_cid"], {})[r["_dim"]] = r["_s"] / r["_n"]
            centroids = {
                cid: (
                    [new[cid][d] for d in range(len(prev))]
                    if cid in new
                    else prev  # empty cluster: carry the centroid forward
                )
                for cid, prev in centroids.items()
            }
        return [centroids[c] for c in range(k)]
    finally:
        vc.unpersist()


def _double_lit_sql(x: float) -> str:
    """Exact SQL text for a double literal: ``CAST('<repr>' AS DOUBLE)``.
    Python ``repr`` is the shortest round-trip decimal and both engines'
    string->double parse is correctly rounded, so the folded constant is
    the identical IEEE double — and the string form survives exponents
    the bare-literal lexer would reject.

    Centroids are means of micro-quantized ints, so a non-finite value
    here always means corrupt upstream vectors — fail loudly instead of
    relying on the engines' 'nan'/'inf' string-cast quirks (round-11
    ADVICE)."""
    import math

    x = float(x)
    if not math.isfinite(x):
        raise ValueError(
            f"_double_lit_sql: non-finite centroid component {x!r} — "
            "upstream vectors are corrupt (NaN/inf embedding?)"
        )
    return f"CAST('{x!r}' AS DOUBLE)"


def matrix_sql(rows, lit=str) -> str:
    """SQL text of a 2-D array literal; ``lit`` formats each element."""
    return "array(" + ",".join(
        "array(" + ",".join(lit(x) for x in row) + ")" for row in rows
    ) + ")"


def kmeans_dist_structs_sql(
    micro_vec: str, centroids: dict[int, list[float]] | list[list[float]]
) -> str:
    """SQL text of the array of ``(d, cid)`` structs — squared distance
    of a micro-unit BIGINT vector fragment to EVERY literal centroid — a
    pure JVM projection, no join, no shuffle. ``array_min`` of it is the
    nearest centroid; ``slice(array_sort(...), 1, p)`` is an IVF probe
    list.

    Distance per centroid: left-fold over dims of
    ``(double(v_d) - c_d)^2`` from 0.0 — the exact op order the oracle's
    ``list_reduce(list_transform(...))`` reproduces.

    Construction form (values bit-identical to every earlier form): ONE
    ``transform`` over a 2-D centroid literal instead of k separate
    per-centroid fold subtrees, so the plan carries ONE zip_with/
    aggregate lambda instead of k copies per distance expression. The
    whole expression — the k x dim literals, the fold lambdas and the
    caller's wrapping (``array_min``, the probe slice, the LUT
    ``transform``) — is SQL text that reaches the JVM in ONE ``F.expr``
    py4j round trip. Built as k x dim ``F.lit`` calls the literals alone
    measured 0.96 s per 16 x 64 build against 0.04 s as text; built from
    Python lambdas, each lambda node cost several more round trips (a
    warm ``ann_index_serve`` construction at sf0.001: 3,194 py4j
    commands with lambdas, 943 as text, py4j's garbage-collection
    notices not counted). Per-row execution is unchanged: the transform
    evaluates the same k folds in the same IEEE order; ``cid`` is the
    transform index."""
    if isinstance(centroids, dict):
        centroids = [centroids[c] for c in range(len(centroids))]
    cents = matrix_sql(centroids, _double_lit_sql)
    return (
        f"transform({cents}, (__c, __i) -> named_struct("
        f"'d', aggregate(zip_with({micro_vec}, __c, (__x, __y) -> "
        "(CAST(__x AS DOUBLE) - __y) * (CAST(__x AS DOUBLE) - __y)), "
        "0.0D, (__a, __d) -> __a + __d), "
        "'cid', CAST(__i AS INT)))"
    )


def kmeans_assign_sql(
    micro_vec: str, centroids: dict[int, list[float]] | list[list[float]]
) -> str:
    """SQL text of the nearest-centroid id (ties: smallest squared
    distance, then smallest cid) — ``array_min`` over
    :func:`kmeans_dist_structs_sql` (lexicographic on (dist, cid))."""
    return f"CAST(array_min({kmeans_dist_structs_sql(micro_vec, centroids)}).cid AS INT)"


def kmeans_min_struct(
    micro_col: str, centroids: dict[int, list[float]] | list[list[float]]
) -> Column:
    """``(d, cid)`` struct of the nearest centroid to the micro-unit
    vector column named ``micro_col`` — see :func:`kmeans_assign_sql`."""
    return F.expr(
        f"array_min({kmeans_dist_structs_sql(sql_name(micro_col), centroids)})"
    )


def kmeans_assign_col(
    micro_col: str, centroids: dict[int, list[float]] | list[list[float]]
) -> Column:
    """Nearest-centroid id of the micro-unit vector column named
    ``micro_col`` — see :func:`kmeans_assign_sql`."""
    return F.expr(kmeans_assign_sql(sql_name(micro_col), centroids))


def bound_sql(value: str, var: str, body: str) -> str:
    """SQL text of ``body`` with ``value`` bound ONCE per row as the
    lambda variable ``var``: a transform over the one-element
    ``array(value)``. Catalyst's higher-order functions share no common
    subexpressions, so a vector expression referenced inside a
    per-centroid lambda is otherwise evaluated again for every centroid."""
    return f"element_at(transform(array({value}), {var} -> {body}), 1)"


def _probe_sql(dist_structs: str, n_probe: int) -> str:
    """The ``n_probe`` nearest cids of a ``(d, cid)`` struct array,
    nearest first, ties on cid.

    Probe lists run on the query side only (|Q| rows), so the quantized
    vector stays inline in the per-centroid lambda rather than bound
    once per row (:func:`bound_sql`): at |Q| = 10-40 the bound form
    saved nothing per row and cost each ``ann_index_serve`` execution a
    fixed 0.08-0.16 s, all of it under subexpression elimination
    (``spark.sql.subexpressionElimination.enabled=false`` closed the
    gap). The cell columns, which run over the corpus, stay bound."""
    return (
        f"transform(slice(array_sort({dist_structs}), 1, {int(n_probe)}), "
        "__s -> CAST(__s.cid AS INT))"
    )


def kmeans_cell_col(
    vec_col: str, centroids: dict[int, list[float]] | list[list[float]]
) -> Column:
    """Coarse cell of the RAW float vector column named ``vec_col``: the
    nearest centroid to its micro-unit quantization (bound once per row)."""
    return F.expr(
        bound_sql(
            micro_sql(sql_name(vec_col)), "__v", kmeans_assign_sql("__v", centroids)
        )
    )


def kmeans_probe_col(
    vec_col: str,
    centroids: dict[int, list[float]] | list[list[float]],
    n_probe: int,
) -> Column:
    """IVF probe list of the RAW float vector column named ``vec_col``:
    the ``n_probe`` nearest cells, nearest first (ties on cid)."""
    ds = kmeans_dist_structs_sql(micro_sql(sql_name(vec_col)), centroids)
    return F.expr(_probe_sql(ds, n_probe))


def floor_micro_sql(vec: str) -> str:
    """SQL text of the int64 floor quantization of a vector fragment:
    ``floor(double(x) * 1e6)`` as BIGINT per element — the exact
    integers of the seeded coarse cells and the hyperplane sketch
    (the oracle's ``portable_hash.duck_quantized_vec``)."""
    return (
        f"transform({vec}, __x -> CAST(floor(CAST(__x AS DOUBLE) * {MICRO}) AS BIGINT))"
    )


def seeded_dist_structs_sql(int_vec: str, cent_q) -> str:
    """SQL text of the ``(d, cid)`` structs of a BIGINT vector against
    EVERY int64 seeded centroid: ``d`` is the exact int64 squared
    distance (a double fold is exact only below 2^53). ``array_min`` is
    the nearest cell; ties go to the smallest cid, the numpy argmin /
    stable argsort order."""
    cents = matrix_sql(cent_q, lambda x: f"{int(x)}L")
    return (
        f"transform({cents}, (__c, __i) -> named_struct("
        f"'d', aggregate(zip_with({int_vec}, __c, (__x, __y) -> "
        "(__x - __y) * (__x - __y)), 0L, (__a, __d) -> __a + __d), "
        "'cid', CAST(__i AS INT)))"
    )


def seeded_cell_col(vec_col: str, cent_q) -> Column:
    """Seeded coarse cell of the RAW float vector column named
    ``vec_col``: the nearest int64 centroid to its floor quantization."""
    ds = seeded_dist_structs_sql("__v", cent_q)
    return F.expr(
        bound_sql(
            floor_micro_sql(sql_name(vec_col)),
            "__v",
            f"CAST(array_min({ds}).cid AS INT)",
        )
    )


def seeded_probe_col(vec_col: str, cent_q, n_probe: int) -> Column:
    """Seeded IVF probe list of the RAW float vector column named
    ``vec_col``: the ``n_probe`` nearest int64 centroids, nearest first."""
    ds = seeded_dist_structs_sql(floor_micro_sql(sql_name(vec_col)), cent_q)
    return F.expr(_probe_sql(ds, n_probe))


def normalized_jvm(vec_col: str) -> Column:
    """Unit-normalize the array<float> column named ``vec_col`` entirely
    JVM-side: cast to double, left-fold of squares from 0.0, sqrt,
    elementwise divide — the same IEEE op order as the oracle's
    ``_SIM_NORM_CTE`` and the batched pair scans' numpy cumsum, so
    cosines agree bit-for-bit.

    The norm is bound ONCE per row (:func:`bound_sql`). Written inline
    as ``transform(dbl, x -> x / nrm)``, Catalyst evaluates the dim-term
    fold again for every element — O(dim^2) per row; bound, the row
    costs O(dim) and the bits are the same. A null vector gives null,
    and so does a zero-norm one (the empty vector included): a
    zero-norm row is never a neighbour, never a duplicate and never in
    an index, and every scan drops it (:func:`nonzero_norm`) before it
    scores. One ``F.expr``."""
    dbl = f"transform({sql_name(vec_col)}, __x -> CAST(__x AS DOUBLE))"
    nrm = (
        f"sqrt(aggregate(transform({dbl}, __x -> __x * __x), 0.0D, "
        "(__a, __x) -> __a + __x))"
    )
    return F.expr(
        bound_sql(nrm, "__n", f"IF(__n = 0.0D, NULL, transform({dbl}, __x -> __x / __n))")
    )


def nonzero_norm(vec_col: str) -> Column:
    """True iff the vector column named ``vec_col`` has a nonzero norm:
    some element's double square is nonzero, which is exactly when the
    fold of squares in :func:`normalized_jvm` is nonzero (a NaN element
    keeps the row, as its NaN norm does). A scan filters with this
    BEFORE it normalizes: the predicate reads the raw vector and stops
    at its first nonzero element, while a filter on the normalized
    column is pushed below its projection by Catalyst and evaluates the
    normalize fold twice per row."""
    return F.expr(
        f"exists({sql_name(vec_col)}, "
        "__x -> CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE) != 0.0D)"
    )
