"""Distributed k-means + semantic dedup (operators/clustering.py).

The registry queries are hash-verified against the unrolled DuckDB
oracle by test_oracle_parity; these pin the OPERATOR contracts directly:
planted clusters are recovered, empty clusters carry forward, the
assignment plan never shuffles, and the JVM normalizer matches a
numpy cumsum reference and its old per-element form bit-for-bit.

The vector expressions are SQL text (one ``F.expr`` each); the
Python-lambda forms they replaced are kept HERE as references — the
normalize, micro-quantize, centroid distance structs, LUT and dot
fold — and the SQL forms must give the same bits.
"""

from __future__ import annotations

import math
import random

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from aqi_featurestore_spark.operators.clustering import (
    MICRO,
    kmeans_assign_col,
    kmeans_cell_col,
    kmeans_dist_structs_sql,
    kmeans_fit,
    kmeans_min_struct,
    kmeans_probe_col,
    micro_col,
    normalized_jvm,
    seeded_cell_col,
    seeded_probe_col,
)
from aqi_featurestore_spark.operators.similarity import (
    _dot_fold,
    _pq_lut_cols,
    _pq_sub_frame,
)

SF01_EMB = "/root/testdata/sf0.1/embeddings.parquet"


def _planted(spark, *, n_per=40, dim=8, spread=0.05, seed=11):
    """Three well-separated Gaussian-ish blobs; returns (df, truth)."""
    rng = random.Random(seed)
    centers = [[5.0] * dim, [-5.0] * dim, [5.0 if i % 2 else -5.0 for i in range(dim)]]
    rows, truth = [], {}
    vid = 0
    for b, c in enumerate(centers):
        for _ in range(n_per):
            vec = [c[d] + rng.uniform(-spread, spread) for d in range(dim)]
            rows.append((vid, [float(x) for x in vec]))
            truth[vid] = b
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, truth


def test_kmeans_recovers_planted_clusters(spark):
    # farthest-point seeding provably puts one seed per well-separated
    # blob; md5 seeding (the registry default) is cheaper but can start
    # two seeds in one blob, which plain Lloyd's won't always escape.
    df, truth = _planted(spark)
    cents = kmeans_fit(df, k=3, iters=3, seeding="farthest")
    out = df.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * MICRO, 0).cast("long")
        ).alias("v"),
    ).select("vec_id", kmeans_assign_col("v", cents).alias("cid"))
    got = {r["vec_id"]: r["cid"] for r in out.collect()}
    # cluster ids are arbitrary — check the PARTITION matches the truth
    by_true: dict[int, set[int]] = {}
    for vid, b in truth.items():
        by_true.setdefault(b, set()).add(got[vid])
    assert all(len(s) == 1 for s in by_true.values()), by_true
    assert len({next(iter(s)) for s in by_true.values()}) == 3


def test_kmeans_empty_cluster_carries_forward(spark):
    # 2 identical points, k=2: one seed never wins a member after the
    # first reassignment round — its centroid must persist, not vanish.
    df = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [1.0, 1.0]), (2, [1.0001, 1.0])],
        "vec_id long, embedding array<float>",
    )
    cents = kmeans_fit(df, k=2, iters=3)
    assert len(cents) == 2
    assert all(len(c) == 2 and all(math.isfinite(x) for x in c) for c in cents)


def test_assignment_plan_is_pure_projection(spark):
    df, _ = _planted(spark)
    cents = kmeans_fit(df, k=3, iters=1)
    out = df.select(
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * MICRO, 0).cast("long")
        ).alias("v")
    ).select(kmeans_min_struct("v", cents).alias("m"))
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Exchange" not in plan
    assert "Join" not in plan
    # no UDF boundary (the createDataFrame RDD source mentions Python;
    # what must be absent is any Python EVAL operator)
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_normalized_jvm_matches_arrow(spark):
    """normalized_jvm against the numpy form the batched Arrow pair
    scans use: ``np.cumsum`` of the squares accumulates left to right
    from the first term, the fold's IEEE op order."""
    import numpy as np

    df, _ = _planted(spark, n_per=10)
    both = df.select(
        "embedding", normalized_jvm("embedding").alias("jvm")
    ).collect()
    for r in both:
        x = np.asarray(r["embedding"], dtype=np.float64)
        ref = (x / np.sqrt(np.cumsum(x * x)[-1])).tolist()
        assert r["jvm"] == ref  # bit-identical, not approx


def _normalized_inline(vec_col):
    """The per-element form ``normalized_jvm`` replaced: the norm sits
    inside the divide lambda, so Catalyst re-folds it for every element.
    Kept as the reference the bind-once form must match bit for bit."""
    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(
            F.transform(dbl, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    return F.transform(dbl, lambda x: x / nrm)


def _normalized_lambda(vec_col):
    """The bind-once normalize built from Python lambdas — the form the
    SQL-text ``normalized_jvm`` replaced."""
    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(
            F.transform(dbl, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    return F.element_at(
        F.transform(F.array(nrm), lambda n: F.transform(dbl, lambda x: x / n)), 1
    )


def _micro_lambda(vec_col):
    return F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * MICRO, 0).cast("long")
    )


def _dist_structs_lambda(micro_vec, centroids):
    """The lambda-built centroid distance structs (k-literal transform)."""
    from aqi_featurestore_spark.operators.clustering import _double_lit_sql

    cents = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(_double_lit_sql(x) for x in cent) + ")"
            for cent in centroids
        )
        + ")"
    )
    return F.transform(
        cents,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(
                    micro_vec,
                    c,
                    lambda x, cc: (x.cast("double") - cc) * (x.cast("double") - cc),
                ),
                F.lit(0.0),
                lambda acc, d: acc + d,
            ).alias("d"),
            i.cast("int").alias("cid"),
        ),
    )


def _probe_lambda(vec_col, centroids, n_probe):
    ds = _dist_structs_lambda(_micro_lambda(vec_col), centroids)
    return F.transform(
        F.slice(F.array_sort(ds), 1, n_probe), lambda s: s["cid"].cast("int")
    )


def _lut_lambda(sub_col, book):
    return F.transform(
        _dist_structs_lambda(F.col(sub_col), book), lambda st: st["d"]
    )


def _dot_lambda(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )


def _centroids(rows, k, offset=0.25):
    """k literal centroids in micro units with fractional parts, taken
    from the first k micro vectors (deterministic, no fit job)."""
    return [[float(x) + offset for x in r] for r in rows[:k]]


@pytest.fixture(scope="module")
def sf01(spark):
    e = spark.read.parquet(SF01_EMB)
    assert e.count() == 2000
    return e


def test_sql_forms_match_lambda_forms_on_sf01(spark, sf01):
    """Normalize, micro-quantize, centroid distance structs, the
    nearest-cell and probe builders, and the dot fold: SQL text and the
    lambda forms give the same bits on every sf0.1 vector."""
    micro_rows = [r["v"] for r in sf01.orderBy("vec_id").limit(16)
                  .select(_micro_lambda("embedding").alias("v")).collect()]
    cents = _centroids(micro_rows, 16)
    q = sf01.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), normalized_jvm("embedding").alias("q_nv")
    )
    df = sf01.select(
        "vec_id",
        "embedding",
        normalized_jvm("embedding").alias("nv_sql"),
        _normalized_lambda("embedding").alias("nv_lam"),
        micro_col("embedding").alias("v_sql"),
        _micro_lambda("embedding").alias("v_lam"),
    ).crossJoin(F.broadcast(q))
    rows = df.select(
        "nv_sql", "nv_lam", "v_sql", "v_lam",
        F.expr(kmeans_dist_structs_sql("v_sql", cents)).alias("ds_sql"),
        _dist_structs_lambda(F.col("v_lam"), cents).alias("ds_lam"),
        kmeans_min_struct("v_sql", cents).alias("m_sql"),
        F.array_min(_dist_structs_lambda(F.col("v_lam"), cents)).alias("m_lam"),
        kmeans_assign_col("v_sql", cents).alias("a_sql"),
        kmeans_cell_col("embedding", cents).alias("cell_sql"),
        F.array_min(_dist_structs_lambda(_micro_lambda("embedding"), cents))["cid"]
        .cast("int").alias("a_lam"),
        kmeans_probe_col("embedding", cents, 4).alias("p_sql"),
        _probe_lambda("embedding", cents, 4).alias("p_lam"),
        _dot_fold("q_nv", "nv_sql").alias("dot_sql"),
        _dot_lambda(F.col("q_nv"), F.col("nv_lam")).alias("dot_lam"),
    ).collect()
    assert len(rows) == 6000
    for r in rows:
        assert r["nv_sql"] == r["nv_lam"]  # bit-identical, not approx
        assert r["v_sql"] == r["v_lam"]
        assert r["ds_sql"] == r["ds_lam"]
        assert r["m_sql"] == r["m_lam"]
        assert r["a_sql"] == r["cell_sql"] == r["a_lam"] == r["m_lam"]["cid"]
        assert r["p_sql"] == r["p_lam"]
        assert r["dot_sql"] == r["dot_lam"]


def test_pq_lut_sql_matches_lambda_form_on_sf01(spark, sf01):
    """The ADC lookup tables over the staged ``_sub{s}`` columns."""
    sub = _pq_sub_frame(sf01, [F.col("vec_id")], "embedding", 4, 16)
    first = sub.orderBy("vec_id").limit(16).collect()
    books = [_centroids([r[f"_sub{s}"] for r in first], 16) for s in range(4)]
    rows = sub.select(
        *_pq_lut_cols(books, 4),
        *[_lut_lambda(f"_sub{s}", books[s]).alias(f"ref{s}") for s in range(4)],
    ).collect()
    assert len(rows) == 2000
    for r in rows:
        for s in range(4):
            assert r[f"lut{s}"] == r[f"ref{s}"]


def test_seeded_cells_and_probes_match_numpy_on_sf01(spark, sf01):
    """The seeded coarse cell and probe list (exact int64 SQL) against
    the numpy reference: argmin and stable argsort of the int64 squared
    distances, ties on the smallest cell id."""
    import numpy as np

    from aqi_featurestore_spark.operators.similarity import seeded_coarse_centroids

    cent = seeded_coarse_centroids(
        sf01, id_col="vec_id", vec_col="embedding", n_lists=16
    )
    rows = sf01.select(
        "embedding",
        seeded_cell_col("embedding", cent.tolist()).alias("cell"),
        seeded_probe_col("embedding", cent, 5).alias("probe"),
    ).collect()
    assert len(rows) == 2000
    q = np.floor(
        np.array([r["embedding"] for r in rows], dtype=np.float64) * 1e6
    ).astype(np.int64)
    d = ((q[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    order = np.argsort(d, axis=1, kind="stable")[:, :5]
    assert [r["cell"] for r in rows] == d.argmin(axis=1).tolist()
    assert [r["probe"] for r in rows] == order.tolist()


@pytest.mark.parametrize("n_planes", [16, 32])
def test_hyperplane_sketch_matches_numpy_on_sf01(spark, sf01, n_planes):
    """The SQL sign sketch against ``floor(v * 1e6) @ planes.T > 0``
    packed into bits; at 32 planes bit 31 is set on some rows."""
    import numpy as np

    from aqi_featurestore_spark.functions.portable_hash import int_planes
    from aqi_featurestore_spark.operators.similarity import hyperplane_sketch

    rows = sf01.select(
        "embedding", hyperplane_sketch("embedding", n_planes=n_planes).alias("sk")
    ).collect()
    q = np.floor(
        np.array([r["embedding"] for r in rows], dtype=np.float64) * 1e6
    ).astype(np.int64)
    planes = np.array(int_planes(n_planes, 64), dtype=np.int64)
    bits = q @ planes.T > 0
    want = [sum(1 << p for p in range(n_planes) if b[p]) for b in bits]
    assert [r["sk"] for r in rows] == want
    if n_planes == 32:
        assert any(w >> 31 for w in want)


@pytest.mark.parametrize("name", ["x", "c", "i", "n", "vec `x` 1.a"])
def test_sql_forms_resolve_any_column_name(spark, name):
    """Lambda variables carry reserved names, and names are quoted: an
    input column called like a lambda variable, or one that needs
    backticks, is read as the column."""
    rows = [(0, [3.0, 4.0, 0.5, -2.0]), (1, [1.0, -1.0, 2.0, 0.25])]
    base = spark.createDataFrame(rows, "id int, embedding array<float>")
    df = base.select("id", "embedding", F.col("embedding").alias(name))
    cents = [[1e6, -1e6, 0.0, 2.5e5], [3e6, 4e6, 5e5, -2e6]]
    got = df.select(
        normalized_jvm(name).alias("nv"),
        _normalized_lambda("embedding").alias("nv_ref"),
        micro_col(name).alias("v"),
        _micro_lambda("embedding").alias("v_ref"),
        kmeans_cell_col(name, cents).alias("cell"),
        F.array_min(_dist_structs_lambda(_micro_lambda("embedding"), cents))["cid"]
        .cast("int").alias("cell_ref"),
        kmeans_probe_col(name, cents, 2).alias("p"),
        _probe_lambda("embedding", cents, 2).alias("p_ref"),
        _dot_fold(name, "embedding").alias("dot"),
        _dot_lambda(F.col("embedding"), F.col("embedding")).alias("dot_ref"),
    ).collect()
    for r in got:
        assert r["nv"] == r["nv_ref"]
        assert r["v"] == r["v_ref"]
        assert r["cell"] == r["cell_ref"]
        assert r["p"] == r["p_ref"]
        assert r["dot"] == r["dot_ref"]
    # the micro-vector builders read a micro column of the same name
    assigned = df.select(micro_col(name).alias(name)).select(
        kmeans_assign_col(name, cents).alias("a"),
        kmeans_min_struct(name, cents)["cid"].alias("m"),
    )
    assert [(r["a"], r["m"]) for r in assigned.collect()] == [
        (r["cell"], r["cell"]) for r in got
    ]


def test_normalized_jvm_matches_inline_form_on_sf01(spark):
    e = spark.read.parquet(SF01_EMB)
    rows = e.select(
        normalized_jvm("embedding").alias("bound"),
        _normalized_inline("embedding").alias("inline"),
    ).collect()
    assert len(rows) == 2000
    for r in rows:
        assert r["bound"] == r["inline"]  # bit-identical, not approx


def test_normalized_jvm_null_and_empty_vectors(spark):
    df = spark.createDataFrame(
        [(0, None), (1, []), (2, [3.0, 4.0])], "id int, embedding array<float>"
    )
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            normalized_jvm("embedding").alias("bound"),
            _normalized_inline("embedding").alias("inline"),
            _normalized_lambda("embedding").alias("lam"),
            micro_col("embedding").alias("v"),
            _micro_lambda("embedding").alias("v_lam"),
        ).collect()
    }
    assert rows[0]["bound"] is None and rows[0]["inline"] is None
    assert rows[0]["lam"] is None
    assert rows[0]["v"] is None and rows[0]["v_lam"] is None
    # the empty vector has norm 0: null, like every zero-norm vector
    assert rows[1]["bound"] is None
    assert rows[1]["inline"] == [] == rows[1]["lam"]
    assert rows[1]["v"] == [] == rows[1]["v_lam"]
    assert rows[2]["bound"] == rows[2]["inline"] == rows[2]["lam"] == [0.6, 0.8]
    assert rows[2]["v"] == rows[2]["v_lam"] == [3_000_000, 4_000_000]


@pytest.mark.parametrize(
    "form", [normalized_jvm, _normalized_inline, _normalized_lambda]
)
def test_zero_norm_vector_divides_by_zero(spark, form):
    """Under ANSI mode (Spark 4's default) a zero-norm vector raises in
    the lambda and inline reference forms. ``normalized_jvm`` tests the
    norm it binds and gives null instead: a zero-norm row is never a
    neighbour, and every scan drops it before it scores."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = spark.createDataFrame([(0, [0.0, 0.0, 0.0])], "id int, embedding array<float>")
    if form is normalized_jvm:
        assert df.select(form("embedding").alias("nv")).collect()[0]["nv"] is None
        return
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        df.select(form("embedding")).collect()


def test_semantic_dedup_drops_planted_duplicate(spark):
    from aqi_featurestore_spark.plans import QUERIES  # noqa: F401  (env check)
    from aqi_featurestore_spark.plans.clustering import q_semantic_dedup

    out = q_semantic_dedup(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert len(rows) == 500  # every vector gets a verdict
    drops = [r for r in rows if r["keep"] == 0]
    cluster_of = {r["vec_id"]: r["cluster_id"] for r in rows}
    for r in drops:
        # dropped rows point at a SMALLER-id vector in the SAME cluster
        assert r["dup_of"] is not None and r["dup_of"] < r["vec_id"]
        assert cluster_of[r["dup_of"]] == r["cluster_id"]
    for r in rows:
        if r["keep"] == 1:
            assert r["dup_of"] is None


def test_semantic_dedup_zero_vectors_are_never_duplicates(spark, tmp_path):
    """The batched scan drops zero-norm rows before it scores, so a zero
    vector neither is dropped nor causes a drop."""
    import pyarrow.parquet as pq

    from aqi_featurestore_spark.plans.clustering import q_semantic_dedup

    rng = random.Random(5)
    vecs = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(200)]
    vecs[10] = vecs[11] = [0.0] * 64
    t = pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
    })
    pq.write_table(t, tmp_path / "embeddings.parquet")

    rows = {r["vec_id"]: r for r in q_semantic_dedup(spark, str(tmp_path)).collect()}
    assert len(rows) == t.num_rows
    for vid in (10, 11):
        assert rows[vid]["keep"] == 1 and rows[vid]["dup_of"] is None
    assert not {r["dup_of"] for r in rows.values()} & {10, 11}


def test_kmeans_assignment_works_in_streaming(spark, tmp_path):
    """The literal-centroid assignment is a pure projection, so the SAME
    column works unchanged under Structured Streaming (stream-static
    semantic routing: fit offline, assign on the stream)."""
    df, _ = _planted(spark, n_per=10)
    cents = kmeans_fit(df, k=3, iters=1)
    src = tmp_path / "vec_src"
    src.mkdir()
    df.coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema("vec_id long, embedding array<float>").parquet(
        str(src)
    )
    assigned = stream.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * MICRO, 0).cast("long")
        ).alias("v"),
    ).select("vec_id", kmeans_assign_col("v", cents).alias("cid"))
    q = (
        assigned.writeStream.format("memory")
        .queryName("km_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "km_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["vec_id"]: r["cid"] for r in spark.sql("SELECT * FROM km_stream").collect()
    }
    batch = {
        r["vec_id"]: r["cid"]
        for r in df.select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * MICRO, 0).cast("long"),
            ).alias("v"),
        )
        .select("vec_id", kmeans_assign_col("v", cents).alias("cid"))
        .collect()
    }
    assert got == batch and len(got) == 30


def test_kmeans_warm_start_equals_cold_continuation(spark):
    """A Lloyd round is a pure function of (centroids, data), so
    warm-starting from round a's centroids for b more rounds is
    bit-identical to a cold a+b-round fit — the property that makes a
    persisted-quantizer refresh exact (the hardlogit warm-start
    contract on the clustering side)."""
    import pytest

    from aqi_featurestore_spark.operators.clustering import kmeans_fit

    df = spark.createDataFrame(
        [
            (i, [((i * 37 + d * 13) % 53 - 26) / 26.0 for d in range(8)])
            for i in range(40)
        ],
        "vec_id long, embedding array<float>",
    )
    cold = kmeans_fit(df, k=4, iters=3)
    head = kmeans_fit(df, k=4, iters=2)
    warm = kmeans_fit(df, k=4, iters=1, init=head)
    assert warm == cold
    with pytest.raises(ValueError, match="init has"):
        kmeans_fit(df, k=4, iters=1, init=head[:2])
