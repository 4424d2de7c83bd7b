"""DuckDB oracle SQL for the approximate dedup/ANN queries.

These oracles recompute the ENTIRE approximate pipeline — md5-affine
MinHash signatures, md5 SimHash fingerprints, integer hyperplane
sketches, seeded-centroid IVF assignment — inside DuckDB, bit-for-bit
equal to the Spark plans, because every hash is md5-derived and every
sum/dot/distance that feeds a comparison is exact 64-bit integer
arithmetic (order-independent, unlike float folds). The only float ops
are the final cosine scores, which reuse the normalize-once-then-
sequential-fold idiom already proven by ``similarity_topk_cosine``.

The affine (a, b) constants and the integer plane matrices come from
``functions.portable_hash`` — the same seeded generators the Spark
operators use — and are embedded in the SQL as literals, so neither
engine runs an RNG.

SQL is generated by Python because the expressions are wide (64 min-
aggregates, 32 plane dots), not because the logic is dynamic: for fixed
parameters the output is a fixed ANSI-ish SQL string the driver runs
verbatim.
"""

from __future__ import annotations

from aqi_featurestore_spark.functions import portable_hash as ph

P = ph.MERSENNE31

# Shingle CTEs shared with the exact n-gram oracle (k = 3). The relation
# is parameterizable so the same pipeline runs over derived (doc_id,
# text) relations (e.g. chunk_dedup_docs' chunk table).
def _shingles_cte(relation: str = "documents") -> str:
    return rf"""tok AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM {relation}),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                ELSE CAST([] AS VARCHAR[]) END) AS s
  FROM tok)"""


_SHINGLES_CTE = _shingles_cte()

# Unit-normalized embedding vectors, zero-norm rows left out (same IEEE
# op order as Spark's normalized_jvm + _dot_fold — proven by
# similarity_topk_cosine).
_NORM_CTE = f"""norm AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) /
           sqrt(list_reduce(
                  list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)),
                  (a, b) -> a + b))) AS v
  FROM embeddings
  WHERE {ph.duck_nonzero_norm('embedding')})"""

_NORM_DOT = (
    "list_reduce(list_transform(range(1, len({a}) + 1), "
    "i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
)


def _minhash_ctes(
    num_hashes: int, bands: int, rows_per_band: int, relation: str = "documents"
) -> str:
    """CTE chain: shingles -> affine base hash -> 64 min-aggregates ->
    md5 band buckets -> candidate pairs (d1 < d2, distinct)."""
    fam = ph.hash_family(num_hashes)
    mins = ",\n         ".join(
        f"min(({a} * hb + {b}) % {P}) AS h{i}" for i, (a, b) in enumerate(fam)
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, substr(md5(concat_ws('|', {cols})), 1, 16) AS bucket FROM sig".format(
            b=b,
            cols=", ".join(
                f"h{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return f"""{_shingles_cte(relation)},
shh AS (
  SELECT doc_id, ({ph.duck_hex_int('h', 1, 8)} % {P}) AS hb
  FROM (SELECT doc_id, md5(s) AS h FROM sh)),
sig AS (
  SELECT doc_id,
         {mins}
  FROM shh GROUP BY doc_id),
buckets AS (
{band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)"""


def minhash_pairs_ctes(
    relation: str,
    *,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.3,
) -> str:
    """CTE chain (no WITH) over an arbitrary ``(doc_id, text)`` relation,
    ending in ``mh_pairs(d1, d2, est_jaccard)`` — the composable form of
    :func:`minhash_lsh_sql` used by chunk-granularity dedup."""
    rows_per_band = num_hashes // bands
    agree = " + ".join(
        f"CASE WHEN s1.h{i} = s2.h{i} THEN 1 ELSE 0 END" for i in range(num_hashes)
    )
    return f"""{_minhash_ctes(num_hashes, bands, rows_per_band, relation)},
mh_pairs AS (
  SELECT c.d1, c.d2,
         CAST(({agree}) AS DOUBLE) / {num_hashes} AS est_jaccard
  FROM cand c
  JOIN sig s1 ON c.d1 = s1.doc_id
  JOIN sig s2 ON c.d2 = s2.doc_id
  WHERE CAST(({agree}) AS DOUBLE) / {num_hashes} >= {threshold})"""


def minhash_lsh_sql(
    *, num_hashes: int = 64, bands: int = 16, threshold: float = 0.3
) -> str:
    rows_per_band = num_hashes // bands
    agree = " + ".join(
        f"CASE WHEN s1.h{i} = s2.h{i} THEN 1 ELSE 0 END" for i in range(num_hashes)
    )
    return f"""WITH {_minhash_ctes(num_hashes, bands, rows_per_band)}
SELECT c.d1, c.d2,
       CAST(({agree}) AS DOUBLE) / {num_hashes} AS est_jaccard
FROM cand c
JOIN sig s1 ON c.d1 = s1.doc_id
JOIN sig s2 ON c.d2 = s2.doc_id
WHERE CAST(({agree}) AS DOUBLE) / {num_hashes} >= {threshold}"""


def minhash_verified_sql(
    *, num_hashes: int = 64, bands: int = 16, threshold: float = 0.3
) -> str:
    """Candidates from the SAME md5-affine banding, verification by TRUE
    shingle-set Jaccard (string sets — Spark intersects 64-bit shingle
    hashes instead, identical counts short of a 2^-64 collision)."""
    rows_per_band = num_hashes // bands
    return f"""WITH {_minhash_ctes(num_hashes, bands, rows_per_band)},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT c.d1, c.d2, CAST(i.inter AS INT) AS inter,
       CAST(n1.n AS INT) AS n1, CAST(n2.n AS INT) AS n2,
       CAST(i.inter AS DOUBLE) / (n1.n + n2.n - i.inter) AS jaccard
FROM cand c
JOIN inter i ON c.d1 = i.d1 AND c.d2 = i.d2
JOIN sizes n1 ON c.d1 = n1.doc_id
JOIN sizes n2 ON c.d2 = n2.doc_id
WHERE CAST(i.inter AS DOUBLE) / (n1.n + n2.n - i.inter) >= {threshold}"""


def minhash_incremental_sql(
    *,
    new_pred: str = "% 10 = 7",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.3,
) -> str:
    """Incremental-ingestion gate: candidates between NEW docs
    (``doc_id {new_pred}``) and the existing corpus (everything else),
    verified by TRUE shingle-set Jaccard. Mirrors
    ``near_dedup.minhash_incremental_pairs`` with the same md5-affine
    banding; no d1 < d2 constraint because the sides are disjoint."""
    rows_per_band = num_hashes // bands
    return f"""WITH {_minhash_ctes(num_hashes, bands, rows_per_band)},
xcand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket
  WHERE (a.doc_id {new_pred}) AND NOT (b.doc_id {new_pred})),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.d1, c.d2, count(*) AS inter
  FROM xcand c
  JOIN sh a ON a.doc_id = c.d1
  JOIN sh b ON b.doc_id = c.d2 AND b.s = a.s
  GROUP BY 1, 2)
SELECT c.d1, c.d2, CAST(i.inter AS INT) AS inter,
       CAST(n1.n AS INT) AS n1, CAST(n2.n AS INT) AS n2,
       CAST(i.inter AS DOUBLE) / (n1.n + n2.n - i.inter) AS jaccard
FROM xcand c
JOIN inter i ON c.d1 = i.d1 AND c.d2 = i.d2
JOIN sizes n1 ON c.d1 = n1.doc_id
JOIN sizes n2 ON c.d2 = n2.doc_id
WHERE CAST(i.inter AS DOUBLE) / (n1.n + n2.n - i.inter) >= {threshold}"""


def simhash_sql(*, max_hamming: int = 3, bits: int = 64) -> str:
    """63 integer votes from a 63-bit md5 token hash, fingerprint
    reassembly, pigeonhole band join, exact Hamming filter."""
    n_bands = max_hamming + 1
    width = bits // n_bands
    mask = (1 << width) - 1
    return f"""WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS t
  FROM documents),
tokh AS (
  SELECT doc_id, {ph.duck_md5_int63('h')} AS th
  FROM (SELECT doc_id, md5(tkn) AS h
        FROM (SELECT doc_id, unnest(t) AS tkn FROM tok))),
votes AS (
  SELECT doc_id, b, sum(CASE WHEN (th >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM tokh CROSS JOIN (SELECT unnest(range(63)) AS b) AS bs
  GROUP BY doc_id, b),
sigraw AS (
  SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sig
  FROM votes GROUP BY doc_id),
sig AS (
  SELECT d.doc_id, COALESCE(s.sig, 0) AS sig
  FROM documents d LEFT JOIN sigraw s ON d.doc_id = s.doc_id),
buckets AS (
  SELECT doc_id, sig, b AS band, (sig >> (b * {width})) & {mask} AS bits
  FROM sig CROSS JOIN (SELECT unnest(range({n_bands})) AS b) AS bs),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.sig AS sig1, b.sig AS sig2
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id)
SELECT d1, d2, CAST(bit_count(xor(sig1, sig2)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sig1, sig2)) <= {max_hamming}"""


def _sketch_expr(qv_col: str, n_planes: int, dim: int) -> str:
    planes = ph.int_planes(n_planes, dim)
    terms = "\n         + ".join(
        f"CASE WHEN {ph.duck_int_dot(qv_col, p)} > 0 THEN {1 << j} ELSE 0 END"
        for j, p in enumerate(planes)
    )
    return f"({terms})"


def _quantized_cte() -> str:
    return f"""qv AS (
  SELECT vec_id, {ph.duck_quantized_vec('embedding')} AS q FROM embeddings)"""


def similarity_topk_lsh_sql(
    *,
    n_planes: int = 16,
    bands: int = 4,
    dim: int = 64,
    k: int = 10,
    query_pred: str = "vec_id % 50 = 0",
) -> str:
    width = n_planes // bands
    mask = (1 << width) - 1
    return f"""WITH {_quantized_cte()},
sk AS (
  SELECT vec_id,
         {_sketch_expr('q', n_planes, dim)} AS sketch
  FROM qv),
buckets AS (
  SELECT vec_id, b AS band, (sketch >> (b * {width})) & {mask} AS bits
  FROM sk CROSS JOIN (SELECT unnest(range({bands})) AS b) AS bs),
cand AS (
  SELECT DISTINCT qb.vec_id AS q_id, nb.vec_id AS n_id
  FROM buckets qb JOIN buckets nb
    ON qb.band = nb.band AND qb.bits = nb.bits
  WHERE qb.{query_pred} AND qb.vec_id <> nb.vec_id),
{_NORM_CTE},
scored AS (
  SELECT c.q_id, c.n_id,
         round({_NORM_DOT.format(a='a.v', b='b.v')}, 6) AS cos_sim
  FROM cand c
  JOIN norm a ON c.q_id = a.vec_id
  JOIN norm b ON c.n_id = b.vec_id)
SELECT q_id, n_id, cos_sim, CAST(rk AS INT) AS rk FROM (
  SELECT *, row_number() OVER (
      PARTITION BY q_id ORDER BY cos_sim DESC, n_id ASC) AS rk
  FROM scored) t
WHERE rk <= {k}"""


def embedding_cosine_lsh_sql(
    *, n_planes: int = 32, bands: int = 4, dim: int = 64, threshold: float = 0.4
) -> str:
    width = n_planes // bands
    mask = (1 << width) - 1
    return f"""WITH {_quantized_cte()},
sk AS (
  SELECT vec_id,
         {_sketch_expr('q', n_planes, dim)} AS sketch
  FROM qv),
buckets AS (
  SELECT vec_id, b AS band, (sketch >> (b * {width})) & {mask} AS bits
  FROM sk CROSS JOIN (SELECT unnest(range({bands})) AS b) AS bs),
cand AS (
  SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bits = b.bits AND a.vec_id < b.vec_id),
{_NORM_CTE},
scored AS (
  SELECT c.d1, c.d2,
         round({_NORM_DOT.format(a='a.v', b='b.v')}, 6) AS cos_sim
  FROM cand c
  JOIN norm a ON c.d1 = a.vec_id
  JOIN norm b ON c.d2 = b.vec_id)
SELECT d1, d2, cos_sim FROM scored WHERE cos_sim >= {threshold}"""


def similarity_topk_ivf_sql(
    *,
    n_lists: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    k: int = 10,
    query_pred: str = "vec_id % 50 = 0",
) -> str:
    dist = (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        "i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i])), (x, y) -> x + y)"
    )
    return f"""WITH {_quantized_cte()},
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list_id, q AS c
  FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT {n_lists})),
dist AS (
  SELECT v.vec_id, c.list_id,
         {dist} AS d
  FROM qv v CROSS JOIN cent c),
assign AS (
  SELECT vec_id, list_id FROM (
    SELECT vec_id, list_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, list_id ASC) AS rn
    FROM dist) t
  WHERE rn = 1),
probe AS (
  SELECT vec_id, list_id FROM (
    SELECT vec_id, list_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, list_id ASC) AS rn
    FROM dist WHERE {query_pred}) t
  WHERE rn <= {n_probe}),
{_NORM_CTE},
cand AS (
  SELECT p.vec_id AS q_id, a.vec_id AS n_id
  FROM probe p JOIN assign a ON p.list_id = a.list_id
  WHERE p.vec_id <> a.vec_id),
scored AS (
  SELECT c.q_id, c.n_id,
         round({_NORM_DOT.format(a='a.v', b='b.v')}, 6) AS cos_sim
  FROM cand c
  JOIN norm a ON c.q_id = a.vec_id
  JOIN norm b ON c.n_id = b.vec_id)
SELECT q_id, n_id, cos_sim, CAST(rk AS INT) AS rk FROM (
  SELECT *, row_number() OVER (
      PARTITION BY q_id ORDER BY cos_sim DESC, n_id ASC) AS rk
  FROM scored) t
WHERE rk <= {k}"""


def _pq_fit_code_ctes(
    *,
    n_subspaces: int = 4,
    n_codes: int = 16,
    iters: int = 1,
    dim: int = 64,
    query_pred: str = "vec_id % 50 = 0",
) -> list[str]:
    """CTE parts (no WITH) through ``pq_codes(vec_id, c0..c{S-1})`` and
    the per-subspace ``p{s}_lut(q_id, cid, d)`` tables: normalize,
    micro-quantize, per-subspace exact-integer Lloyd's codebooks
    (seeded by md5 order, the same traversal clustering.kmeans_fit
    runs), corpus encoding, per-query LUTs — unrolled round for round
    so DuckDB reproduces every code id and distance bit-for-bit.
    Shared by the flat-ADC PQ oracle and the IVFADC oracle.
    Lloyd/assignment CTEs are MATERIALIZED (the kmeans_assign_fp
    lesson: default inlining re-evaluates multiply-referenced CTEs)."""
    subdim = dim // n_subspaces
    dist = (
        f"list_reduce(list_transform(range(1, {subdim + 1}), "
        "i -> (CAST({v}[i] AS DOUBLE) - {c}[i]) * "
        "(CAST({v}[i] AS DOUBLE) - {c}[i])), (x, y) -> x + y)"
    )
    hexpr = ph.duck_hex_int("h8", 1, 8)
    parts = [
        f"""pq_nrm AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) /
           sqrt(list_reduce(
                  list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)),
                  (a, b) -> a + b))) AS nv
  FROM embeddings
  WHERE {ph.duck_nonzero_norm('embedding')})""",
        """pq_hh AS (
  SELECT vec_id, md5('km|' || CAST(vec_id AS VARCHAR)) AS h8 FROM pq_nrm)""",
        f"""pq_sr AS (
  SELECT vec_id, CAST(rn - 1 AS INT) AS cid FROM (
    SELECT vec_id, row_number() OVER (ORDER BY {hexpr}, vec_id) AS rn
    FROM pq_hh) t
  WHERE rn <= {n_codes})""",
    ]
    for s in range(n_subspaces):
        lo, hi = s * subdim + 1, (s + 1) * subdim
        parts.append(f"""p{s}_vc AS MATERIALIZED (
  SELECT vec_id,
         list_transform(list_slice(nv, {lo}, {hi}),
                        x -> CAST(round(x * 1000000, 0) AS BIGINT)) AS v
  FROM pq_nrm)""")
        parts.append(f"""p{s}_c0 AS (
  SELECT sr.cid, list_transform(vc.v, x -> CAST(x AS DOUBLE)) AS carr
  FROM pq_sr sr JOIN p{s}_vc vc USING (vec_id))""")
        for t in range(1, iters + 1):
            d = dist.format(v="vc.v", c="c.carr")
            parts.append(f"""p{s}_a{t} AS MATERIALIZED (
  SELECT vec_id, v, cid FROM (
    SELECT vc.vec_id, vc.v, c.cid,
           row_number() OVER (PARTITION BY vc.vec_id
                              ORDER BY {d}, c.cid) AS rn
    FROM p{s}_vc vc CROSS JOIN p{s}_c{t - 1} c) t WHERE rn = 1)""")
            parts.append(f"""p{s}_g{t} AS (
  SELECT cid, dim, CAST(SUM(x) AS BIGINT) AS sm, COUNT(*) AS n FROM (
    SELECT cid, generate_subscripts(v, 1) AS dim, unnest(v) AS x
    FROM p{s}_a{t}) e
  GROUP BY cid, dim)""")
            parts.append(f"""p{s}_cn{t} AS (
  SELECT cid, list(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY dim) AS carr
  FROM p{s}_g{t} GROUP BY cid)""")
            parts.append(f"""p{s}_c{t} AS MATERIALIZED (
  SELECT p.cid, COALESCE(nw.carr, p.carr) AS carr
  FROM p{s}_c{t - 1} p LEFT JOIN p{s}_cn{t} nw USING (cid))""")
        d = dist.format(v="vc.v", c="c.carr")
        parts.append(f"""p{s}_af AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT vc.vec_id, c.cid,
           row_number() OVER (PARTITION BY vc.vec_id
                              ORDER BY {d}, c.cid) AS rn
    FROM p{s}_vc vc CROSS JOIN p{s}_c{iters} c) t WHERE rn = 1)""")
        d = dist.format(v="v.v", c="c.carr")
        parts.append(f"""p{s}_lut AS MATERIALIZED (
  SELECT v.vec_id AS q_id, c.cid, {d} AS d
  FROM p{s}_vc v CROSS JOIN p{s}_c{iters} c
  WHERE {query_pred.replace('vec_id', 'v.vec_id')})""")
    code_joins = " JOIN ".join(
        [f"p0_af a0"]
        + [f"p{s}_af a{s} USING (vec_id)" for s in range(1, n_subspaces)]
    )
    code_cols = ", ".join(f"a{s}.cid AS c{s}" for s in range(n_subspaces))
    parts.append(f"""pq_codes AS (
  SELECT a0.vec_id, {code_cols}
  FROM {code_joins})""")
    return parts


def _pq_dist_sum(n_subspaces: int) -> str:
    dist_sum = "l0.d"
    for s in range(1, n_subspaces):
        dist_sum = f"({dist_sum} + l{s}.d)"
    return dist_sum


def _pq_rerank_ctes(
    *, prefix: str, n_subspaces: int, dim: int, k: int, rescore: int
) -> list[str]:
    """ADC-shortlist (``{prefix}_adc``) -> exact re-rank -> final
    ``{prefix}_tk`` CTEs, given a ``{prefix}_pairs(q_id, n_id,
    pq_dist)`` CTE upstream — the shared tail of both ADC oracles."""
    parts = [f"""{prefix}_adc AS (
  SELECT q_id, n_id, pq_dist, CAST(rk AS INT) AS rk FROM (
    SELECT *, row_number() OVER (
        PARTITION BY q_id ORDER BY pq_dist ASC, n_id ASC) AS rk
    FROM {prefix}_pairs) t
  WHERE rk <= {rescore if rescore else k})"""]
    if rescore:
        dot = (
            f"list_reduce(list_transform(range(1, {dim + 1}), "
            "i -> a.nv[i] * b.nv[i]), (x, y) -> x + y)"
        )
        parts.append(f"""{prefix}_scored AS (
  SELECT s.q_id, s.n_id, round({dot}, 6) AS cos_sim
  FROM {prefix}_adc s JOIN pq_nrm a ON s.q_id = a.vec_id
                JOIN pq_nrm b ON s.n_id = b.vec_id)""")
        parts.append(f"""{prefix}_tk AS (
  SELECT q_id, n_id, cos_sim, CAST(rk AS INT) AS rk FROM (
    SELECT *, row_number() OVER (
        PARTITION BY q_id ORDER BY cos_sim DESC, n_id ASC) AS rk
    FROM {prefix}_scored) t
  WHERE rk <= {k})""")
    else:
        parts.append(
            f"{prefix}_tk AS (SELECT q_id, n_id, pq_dist, rk FROM {prefix}_adc)"
        )
    return parts


def similarity_topk_pq_ctes(
    *,
    n_subspaces: int = 4,
    n_codes: int = 16,
    iters: int = 1,
    dim: int = 64,
    k: int = 10,
    rescore: int = 50,
    query_pred: str = "vec_id % 50 = 0",
) -> str:
    """CTE chain (no WITH) ending in ``pq_tk``: the flat-ADC PQ
    pipeline — fit/encode/LUT chain from :func:`_pq_fit_code_ctes`,
    then every query scores the WHOLE compressed corpus."""
    parts = _pq_fit_code_ctes(
        n_subspaces=n_subspaces,
        n_codes=n_codes,
        iters=iters,
        dim=dim,
        query_pred=query_pred,
    )
    lut_joins = "\n  ".join(
        f"JOIN p{s}_lut l{s} ON l{s}.cid = cd.c{s} AND l{s}.q_id = l0.q_id"
        for s in range(1, n_subspaces)
    )
    parts.append(f"""pq_pairs AS (
  SELECT l0.q_id, cd.vec_id AS n_id,
         round({_pq_dist_sum(n_subspaces)} / 1000000000000.0, 6) AS pq_dist
  FROM pq_codes cd
  JOIN p0_lut l0 ON l0.cid = cd.c0
  {lut_joins}
  WHERE l0.q_id <> cd.vec_id)""")
    parts.extend(
        _pq_rerank_ctes(
            prefix="pq", n_subspaces=n_subspaces, dim=dim, k=k, rescore=rescore
        )
    )
    return ",\n".join(parts)


def similarity_topk_pq_sql(**kw) -> str:
    cols = "q_id, n_id, pq_dist, rk" if kw.get("rescore") == 0 else (
        "q_id, n_id, cos_sim, rk"
    )
    return f"""WITH {similarity_topk_pq_ctes(**kw)}
SELECT {cols} FROM pq_tk"""


def similarity_topk_ivfpq_ctes(
    *,
    n_lists: int = 16,
    n_probe: int = 4,
    n_subspaces: int = 4,
    n_codes: int = 16,
    iters: int = 1,
    dim: int = 64,
    k: int = 10,
    rescore: int = 50,
    query_pred: str = "vec_id % 50 = 0",
    candidate_pred: str | None = None,
    coarse: str = "seeded",
    coarse_iters: int = 3,
) -> str:
    """CTE chain (no WITH) ending in ``ivfpq_tk``: the IVFADC oracle —
    the IVF coarse quantizer (cell assignment + per-query probe lists)
    composed with the PQ fit/encode/LUT chain
    (:func:`_pq_fit_code_ctes`). Candidates are ONLY same-probed-cell
    rows; ADC scores and the exact re-rank are byte-identical to the
    flat PQ oracle's tail.

    ``coarse="seeded"``: the n_lists smallest-id vectors as centroids,
    exact int64 micro-unit distances (the same CTEs
    ``similarity_topk_ivf_sql`` verifies). ``coarse="kmeans"``: the
    distributed exact-integer Lloyd's fit unrolled round for round (the
    clustering family's ``_kmeans_ctes`` chain, prefixed ``ivfk_`` to
    embed here), with assignment/probing argmin'd over the
    post-``coarse_iters`` centroids — the oracle twin of
    ``cosine_topk_ivfpq(coarse="kmeans")``."""
    cdist = (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        "i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i])), (x, y) -> x + y)"
    )
    if coarse == "seeded":
        parts = [
            _quantized_cte(),
            f"""ivf_cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list_id, q AS c
  FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT {n_lists}))""",
            f"""ivf_dist AS MATERIALIZED (
  SELECT v.vec_id, c.list_id, {cdist} AS d
  FROM qv v CROSS JOIN ivf_cent c)""",
            """ivf_assign AS MATERIALIZED (
  SELECT vec_id, list_id FROM (
    SELECT vec_id, list_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, list_id ASC) AS rn
    FROM ivf_dist) t
  WHERE rn = 1)""",
            f"""ivf_probe AS (
  SELECT vec_id, list_id FROM (
    SELECT vec_id, list_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, list_id ASC) AS rn
    FROM ivf_dist WHERE {query_pred}) t
  WHERE rn <= {n_probe})""",
        ]
    elif coarse == "kmeans":
        # Deferred import: plans._base imports this module during its own
        # init and plans.clustering imports _base — at sql-build time
        # (query modules' decorators) both are fully initialized.
        from aqi_featurestore_spark.plans.clustering import _kmeans_ctes

        kdist = (
            f"list_reduce(list_transform(range(1, {dim + 1}), "
            "i -> (CAST(vc.v[i] AS DOUBLE) - c.carr[i]) * "
            "(CAST(vc.v[i] AS DOUBLE) - c.carr[i])), (x, y) -> x + y)"
        )
        parts = [
            _kmeans_ctes(
                k=n_lists, iters=coarse_iters, dim=dim, prefix="ivfk_"
            ),
            """ivf_assign AS MATERIALIZED (
  SELECT vec_id, CAST(cid AS INT) AS list_id FROM ivfk_af)""",
            f"""ivf_probe AS (
  SELECT vec_id, list_id FROM (
    SELECT vc.vec_id, CAST(c.cid AS INT) AS list_id,
           row_number() OVER (PARTITION BY vc.vec_id
                              ORDER BY {kdist} ASC, c.cid ASC) AS rn
    FROM ivfk_vc vc CROSS JOIN ivfk_c{coarse_iters} c
    WHERE {query_pred.replace("vec_id", "vc.vec_id")}) t
  WHERE rn <= {n_probe})""",
        ]
    else:  # pragma: no cover
        raise ValueError(f"unknown coarse mode {coarse!r}")
    parts.extend(
        _pq_fit_code_ctes(
            n_subspaces=n_subspaces,
            n_codes=n_codes,
            iters=iters,
            dim=dim,
            query_pred=query_pred,
        )
    )
    lut_joins = "\n  ".join(
        f"JOIN p{s}_lut l{s} ON l{s}.cid = cd.c{s} AND l{s}.q_id = p.vec_id"
        for s in range(1, n_subspaces)
    )
    # Filtered ANN: the candidate predicate (over the embeddings row of
    # the CANDIDATE id, aliased cf) prunes before scoring — the oracle
    # twin of ann_index_topk(where=...)'s filter-then-search.
    cand_join = (
        f"\n  JOIN embeddings cf ON cf.vec_id = a.vec_id AND ({candidate_pred})"
        if candidate_pred
        else ""
    )
    parts.append(f"""ivfpq_pairs AS (
  SELECT p.vec_id AS q_id, cd.vec_id AS n_id,
         round({_pq_dist_sum(n_subspaces)} / 1000000000000.0, 6) AS pq_dist
  FROM ivf_probe p
  JOIN ivf_assign a ON p.list_id = a.list_id AND p.vec_id <> a.vec_id{cand_join}
  JOIN pq_codes cd ON cd.vec_id = a.vec_id
  JOIN p0_lut l0 ON l0.cid = cd.c0 AND l0.q_id = p.vec_id
  {lut_joins})""")
    parts.extend(
        _pq_rerank_ctes(
            prefix="ivfpq", n_subspaces=n_subspaces, dim=dim, k=k, rescore=rescore
        )
    )
    return ",\n".join(parts)


def similarity_topk_ivfpq_sql(**kw) -> str:
    cols = "q_id, n_id, pq_dist, rk" if kw.get("rescore") == 0 else (
        "q_id, n_id, cos_sim, rk"
    )
    return f"""WITH {similarity_topk_ivfpq_ctes(**kw)}
SELECT {cols} FROM ivfpq_tk"""


def ann_index_stats_sql(*, n_lists: int = 16, dim: int = 64) -> str:
    """Cell-occupancy audit of the seeded IVF coarse quantizer — the
    same qv/cent/dist/assign CTEs the IVF and IVFADC oracles verify,
    aggregated to per-cell counts plus balance metrics. ``n_cells``
    counts NON-EMPTY cells; ``max_skew`` is max/avg occupancy (1.0 =
    perfectly balanced)."""
    cdist = (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        "i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i])), (x, y) -> x + y)"
    )
    return f"""WITH {_quantized_cte()},
ivf_cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list_id, q AS c
  FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT {n_lists})),
ivf_dist AS MATERIALIZED (
  SELECT v.vec_id, c.list_id, {cdist} AS d
  FROM qv v CROSS JOIN ivf_cent c),
ivf_assign AS MATERIALIZED (
  SELECT vec_id, list_id FROM (
    SELECT vec_id, list_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, list_id ASC) AS rn
    FROM ivf_dist) t
  WHERE rn = 1),
cellc AS MATERIALIZED (
  SELECT list_id, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM ivf_assign GROUP BY list_id),
tot AS (
  SELECT CAST(SUM(n_rows) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(MAX(n_rows) AS BIGINT) AS max_rows
  FROM cellc)
SELECT c.list_id, c.n_rows,
       round(CAST(c.n_rows AS DOUBLE) / CAST(t.n_total AS DOUBLE), 6) AS share,
       CAST(row_number() OVER (ORDER BY c.n_rows DESC, c.list_id ASC) AS INT)
         AS size_rank,
       t.n_cells,
       round(CAST(t.max_rows AS DOUBLE) * CAST(t.n_cells AS DOUBLE)
             / CAST(t.n_total AS DOUBLE), 6) AS max_skew
FROM cellc c CROSS JOIN tot t"""


def serving_index_stats_sql(
    *, n_lists: int = 16, coarse_iters: int = 3, dim: int = 64
) -> str:
    """Cell-occupancy audit of the SERVING coarse quantizer — the
    k-means-trained fit the registry index builds with (measured-recall
    default, see ann_index_serve) — same balance metrics as
    :func:`ann_index_stats_sql` over the Lloyd-chain assignment the
    clustering oracles verify."""
    from aqi_featurestore_spark.plans.clustering import _kmeans_ctes

    return f"""WITH {_kmeans_ctes(k=n_lists, iters=coarse_iters, dim=dim)},
cellc AS MATERIALIZED (
  SELECT CAST(cid AS INT) AS list_id, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM af GROUP BY cid),
tot AS (
  SELECT CAST(SUM(n_rows) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(MAX(n_rows) AS BIGINT) AS max_rows
  FROM cellc)
SELECT c.list_id, c.n_rows,
       round(CAST(c.n_rows AS DOUBLE) / CAST(t.n_total AS DOUBLE), 6) AS share,
       CAST(row_number() OVER (ORDER BY c.n_rows DESC, c.list_id ASC) AS INT)
         AS size_rank,
       t.n_cells,
       round(CAST(t.max_rows AS DOUBLE) * CAST(t.n_cells AS DOUBLE)
             / CAST(t.n_total AS DOUBLE), 6) AS max_skew
FROM cellc c CROSS JOIN tot t"""
