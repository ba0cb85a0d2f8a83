"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Native zip_with/aggregate dot products (no Python), broadcast of the
  small query side, window rank per query.
- ``ivf_topk``: the scale path — IVF-style inverted file: deterministic
  centroids (first C vectors + optional minibatch Lloyd refinement),
  assign every vector to its nearest centroid MAP-ONLY (centroids are
  driver-materialized literals, C fused cosines + argmax per row — no
  N×C crossJoin, no per-vector window sort), probe only ``nprobe``
  nearest clusters per query. Search cost drops from O(N) to
  O(N·nprobe/C) per query.

At 100 TB the brute-force variant is only for verification subsets; the
IVF bucket assignment rides the scan and the probe join shuffles on
cluster id (bounded fan-in per bucket).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a, b) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(embeddings: DataFrame, query_ids, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for the given query ids.

    Returns (qid, nid, rank) — ids only, so engine float noise cannot
    flip a hash compare; rank ties broken by neighbor id.
    """
    q = embeddings.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    d = embeddings.select(F.col(id_col).alias("nid"),
                          F.col(vec_col).alias("nvec"))
    pairs = d.crossJoin(F.broadcast(q)).filter(F.col("nid") != F.col("qid"))
    scored = pairs.select(
        "qid", "nid", cosine(F.col("qvec"), F.col("nvec")).alias("cos")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank")
    )


def _assign_local(embeddings: DataFrame, cent_rows, id_col: str,
                  vec_col: str) -> DataFrame:
    """Each vector → its nearest centroid, MAP-ONLY: the C centroids
    (driver-materialized ``(cid, cvec)`` tuples — control-plane size)
    travel as ONE broadcast row holding an array of centroid structs
    (with norms precomputed in-engine); each vector computes C fused
    cosines via a higher-order ``transform`` and takes an
    ``array_max`` argmax. Compared to the former crossJoin + per-vid
    window: no N×C row blowup, no shuffle, no sort — the assignment
    rides the scan. Compared to inlining centroids as LITERALS: the
    generated code is value-independent, so Janino compiles once ever
    instead of once per centroid set (~3 s each at refinement time).
    Tie-break (cos equal → smaller cid) via a negated-cid field;
    cosine bits unchanged (same folds, same operand order)."""
    spark = embeddings.sparkSession
    from lexoid_spark.session import local_rows_df

    cents_one = (
        local_rows_df(spark, cent_rows, "cid long, cvec array<double>")
        .select(F.struct(
            "cid", "cvec", norm(F.col("cvec")).alias("nc")
        ).alias("c"))
        .agg(F.sort_array(F.collect_list("c")).alias("_cents"))
    )
    nv = norm(F.col(vec_col))
    vec = F.col(vec_col)
    best = F.array_max(F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            (dot(vec, c.getField("cvec"))
             / (nv * c.getField("nc"))).alias("cos"),
            (-c.getField("cid")).alias("negcid"),
            c.getField("cid").alias("cid"),
        ),
    ))
    return embeddings.crossJoin(F.broadcast(cents_one)).select(
        F.col(id_col).alias("vid"), vec.alias("vvec"),
        best.getField("cid").alias("cid"),
    )


def refine_centroids(assigned: DataFrame, round_dp: int = 6) -> DataFrame:
    """One Lloyd step: centroid := per-dimension mean of its members.

    Means are rounded (default 6 dp) so the result is engine-portable:
    distributed float summation is order-dependent at the last ulp,
    and the DuckDB oracle must reproduce the centroids bit-for-bit.
    Shuffle shape: posexplode → groupBy(cid, pos) with map-side
    combine — (C·dim) rows out, scales to any corpus."""
    per_dim = assigned.select(
        "cid", F.posexplode("vvec").alias("pos", "v")
    ).groupBy("cid", "pos").agg(
        F.round(F.avg(F.col("v").cast("double")), round_dp).alias("c")
    )
    return per_dim.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s.getField("c"),
        ).alias("cvec")
    )


def ivf_centroid_rows(embeddings: DataFrame, n_centroids: int,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      n_iter: int = 0,
                      train_modulus: int = 1) -> list[tuple[int, list]]:
    """IVF 'training': deterministic seed (the first C vectors by id)
    plus ``n_iter`` Lloyd refinement steps, returned as driver-side
    ``(cid, cvec)`` tuples (C×dim doubles — control-plane size,
    standard k-means practice; inlining them keeps every downstream
    assignment map-only instead of re-executing the training plan).

    The seed alone gives poor recall on real embedding distributions;
    one or two refinements recover most of it while staying fully
    deterministic. ``train_modulus`` > 1 refines on the deterministic
    subset ``id % modulus == 0`` (minibatch k-means): at 10^12 vectors
    a full assignment pass per refinement is the dominant cost, and
    centroid means converge on a fixed sample — the final assignment
    still covers every vector."""
    rows = [
        (int(r["cid"]), list(r["cvec"]))
        for r in embeddings.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
        ).collect()
    ]
    if not rows and not embeddings.isEmpty():
        # an id space that starts above n_centroids (offset or
        # md5-derived ids) silently yields ZERO centroids → empty
        # probes / one null mega-bucket (O(N²)); fail loud instead.
        # Fewer-than-C seeds on a small corpus stay legitimate, and
        # empty input stays empty.
        raise ValueError(
            f"IVF seeding found no vectors with {id_col} < "
            f"{n_centroids} in a non-empty table; ids must be dense "
            "0-based for the deterministic first-C seed")
    train = embeddings
    if train_modulus > 1:
        train = embeddings.filter(
            F.col(id_col) % train_modulus == 0
        )
    for _ in range(n_iter):
        # collect the (cid, pos, mean) control-plane rows directly —
        # C*dim rows — and assemble the vectors driver-side: the extra
        # groupBy(cid)+collect_list shuffle refine_centroids runs to
        # return a relation is pure overhead when the loop collects
        # anyway (identical values: same per-dimension rounded means)
        per_dim = _assign_local(train, rows, id_col, vec_col).select(
            "cid", F.posexplode("vvec").alias("pos", "v")
        ).groupBy("cid", "pos").agg(
            F.round(F.avg(F.col("v").cast("double")), 6).alias("c")
        ).collect()
        by_cid: dict = {}
        for r in per_dim:
            by_cid.setdefault(int(r["cid"]), []).append(
                (int(r["pos"]), float(r["c"])))
        rows = [
            (cid, [c for _pos, c in sorted(dims)])
            for cid, dims in sorted(by_cid.items())
        ]
    return rows


def assign_clusters(embeddings: DataFrame, n_centroids: int,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    n_iter: int = 0) -> DataFrame:
    """IVF assignment: each vector joins its nearest centroid after
    ``n_iter`` Lloyd refinements of the first-C seed (n_iter=0 keeps
    the round-1 deterministic-seed behavior). Map-only: centroids are
    inlined literals (see :func:`_assign_local`)."""
    rows = ivf_centroid_rows(embeddings, n_centroids, id_col, vec_col,
                             n_iter)
    return _assign_local(embeddings, rows, id_col, vec_col)


def numpy_dot_udf():
    """Arrow-batched einsum dot product — the throughput path for wide
    embeddings: one numpy call per batch instead of an interpreted
    fold per element. (Float summation order differs from the HOF
    fold at the last ulp, so the bit-parity oracle keeps the HOF form;
    values agree to ~1e-15.)"""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    def dot_np(a, b):
        A = np.stack([np.asarray(x, dtype=np.float64) for x in a])
        B = np.stack([np.asarray(x, dtype=np.float64) for x in b])
        return pd.Series(np.einsum("ij,ij->i", A, B))

    return F.pandas_udf(dot_np, T.DoubleType())


def embedding_near_dup_pairs(embeddings: DataFrame, tau: float = 0.9,
                             n_centroids: int = 8,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             impl: str = "gemm") -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= tau).

    Scale path: candidates are generated ONLY within IVF clusters (same
    deterministic assignment as :func:`ivf_topk`), so the pairwise
    compare is bucket-local — O(sum b_i²) instead of O(N²). Recall is
    bounded by cluster granularity, the standard ANN near-dup
    trade-off; raise ``n_centroids`` at scale so buckets stay small.

    ``impl`` (default "gemm" — the scale-correct shape; "hof" exists
    for the bit-exact oracle cross-check query):
      * "hof"   — native fold, bit-exact vs the DuckDB oracle;
      * "numpy" — Arrow-batched einsum per candidate pair;
      * "gemm"  — ONE BLAS matrix product per cluster
        (``applyInPandas`` over cid: S = X·Xᵀ, mask the upper triangle
        against tau·‖x_i‖‖x_j‖). The O(b²·d) work that dominates at
        scale runs inside BLAS instead of b²/2 interpreted dots — the
        correct shape for wide embeddings and big buckets.
    Pair sets agree across impls unless a cosine sits within float
    noise of tau.
    """
    assigned = assign_clusters(embeddings, n_centroids, id_col, vec_col)
    if impl != "gemm":
        # both self-join sides consume `assigned`; un-pinned, the
        # map-only HOF assignment (C fused cosines per vector) runs
        # once PER SIDE — persist so it runs once total and the join
        # sides read the cache (the gemm arm feeds one groupBy, no
        # second consumer). Results unchanged; the entry bench clears
        # the cache between passes.
        assigned = assigned.persist()
    if impl == "gemm":
        import numpy as np

        def per_cluster(pdf):
            import pandas as pd

            if len(pdf) < 2:
                return pd.DataFrame({"id_a": [], "id_b": []}).astype(
                    {"id_a": "int64", "id_b": "int64"})
            order = pdf["vid"].to_numpy().argsort()
            ids = pdf["vid"].to_numpy()[order]
            X = np.stack([
                np.asarray(v, dtype=np.float64)
                for v in pdf["vvec"].to_numpy()[order]
            ])
            norms = np.sqrt(np.einsum("ij,ij->i", X, X))
            S = X @ X.T
            thresh = tau * np.outer(norms, norms)
            # zero-norm vectors (failed embeddings) have undefined
            # cosine — 0 >= 0 must not mark them near-dup of everything
            ok = np.outer(norms > 0, norms > 0)
            ia, ib = np.where(np.triu((S >= thresh) & ok, k=1))
            return pd.DataFrame({"id_a": ids[ia], "id_b": ids[ib]})

        return assigned.groupBy("cid").applyInPandas(
            per_cluster, "id_a long, id_b long"
        )
    # norms once per VECTOR below the join (the join boundary keeps the
    # projection there); computing cosine per pair re-aggregates both
    # norms for every candidate — 3× the interpreted-HOF work
    a = assigned.select(F.col("cid"), F.col("vid").alias("id_a"),
                        F.col("vvec").alias("va"),
                        norm(F.col("vvec")).alias("na"))
    b = assigned.select(F.col("cid"), F.col("vid").alias("id_b"),
                        F.col("vvec").alias("vb"),
                        norm(F.col("vvec")).alias("nb"))
    pair_dot = (
        numpy_dot_udf()(F.col("va"), F.col("vb")) if impl == "numpy"
        else dot(F.col("va"), F.col("vb"))
    )
    return (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        # dot >= tau·|a|·|b|  ⇔  cosine >= tau (tau > 0); zero-norm
        # vectors have undefined cosine and never pair (matches the
        # oracle, where 0/0 is NaN and NaN >= tau is false)
        .filter((F.col("na") > 0) & (F.col("nb") > 0)
                & (pair_dot >= tau * F.col("na") * F.col("nb")))
        .select("id_a", "id_b")
    )


def ivf_topk(embeddings: DataFrame, query_ids, k: int = 5,
             n_centroids: int = 8, nprobe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_iter: int = 0, train_modulus: int = 1) -> DataFrame:
    """Approximate top-k: probe only the nprobe nearest clusters.
    ``n_iter`` Lloyd refinements sharpen the partition (recall);
    ``train_modulus`` subsamples the refinement pass (minibatch)."""
    rows = ivf_centroid_rows(embeddings, n_centroids, id_col, vec_col,
                             n_iter, train_modulus)
    from lexoid_spark.session import local_rows_df

    cents = local_rows_df(
        embeddings.sparkSession, rows, "cid long, cvec array<double>"
    )
    assigned = _assign_local(embeddings, rows, id_col, vec_col)
    q = embeddings.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    # nprobe nearest centroids per query (tiny: Q × C)
    qc = q.crossJoin(F.broadcast(cents)).select(
        "qid", "qvec", "cid",
        cosine(F.col("qvec"), F.col("cvec")).alias("ccos"),
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("ccos"), F.asc("cid"))
    probes = (
        qc.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= nprobe)
        .select("qid", "qvec", "cid")
    )
    # search only probed buckets (join on cid — bounded per-bucket fan-in)
    cand = probes.join(assigned, "cid").filter(F.col("vid") != F.col("qid"))
    scored = cand.select(
        "qid", F.col("vid").alias("nid"),
        cosine(F.col("qvec"), F.col("vvec")).alias("cos"),
    ).dropDuplicates(["qid", "nid"])
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank")
    )


def _sq8_codes(vec: Column) -> Column:
    """int8 scalar quantization of a float vector: per-vector scale
    ``maxabs/127``, codes ``floor(x·127/maxabs + 0.5)`` (half-up via
    floor — no ROUND-tie engine divergence; an all-zero vector yields
    all-zero codes). Returned as array<long> so downstream integer
    sums never overflow."""
    maxabs = F.aggregate(vec, F.lit(0.0),
                         lambda a, x: F.greatest(a, F.abs(x)))
    return F.when(
        maxabs == 0.0,
        F.transform(vec, lambda x: F.lit(0).cast("long")),
    ).otherwise(
        F.transform(vec, lambda x: F.floor(
            x * F.lit(127.0) / maxabs + F.lit(0.5)).cast("long"))
    )


def _int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, x: acc + x)


def sq8_topk(embeddings: DataFrame, query_ids, k: int = 5,
             n_centroids: int = 8, nprobe: int = 2,
             id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """IVF top-k over int8 scalar-quantized vectors — the standard 4×
    memory/bandwidth compression for embedding search at corpus scale
    (FAISS ``SQ8`` behavior analogue). Coarse routing is the same
    deterministic IVF assignment as :func:`ivf_topk`; candidate
    scoring uses the QUANTIZED vectors only: cosine ≈ dot(q_a, q_b) /
    √(‖q_a‖²·‖q_b‖²) where every sum is EXACT 64-bit integer
    arithmetic (codes ≤ 127, so any realistic dim stays far below
    2^63) — the only float ops are one final sqrt + divide, so the
    DuckDB oracle reproduces the ranking bit-for-bit by construction
    (no fold-order caveat at all, unlike the float-cosine queries).

    Scale shape: quantization is map-only and rides the scan (at 10^12
    rows the int8 codes are ~4× less shuffle/cache bytes than float32
    — at a real deployment the codes column would be materialized once
    and the float column never read again); probing and scoring reuse
    the bucket-join shape of :func:`ivf_topk`."""
    rows = ivf_centroid_rows(embeddings, n_centroids, id_col, vec_col, 0)
    assigned = _assign_local(embeddings, rows, id_col, vec_col)
    from lexoid_spark.session import local_rows_df

    cents = local_rows_df(
        embeddings.sparkSession, rows, "cid long, cvec array<double>"
    )
    aq = assigned.select(
        "vid", "cid", _sq8_codes(F.col("vvec")).alias("nq")
    ).withColumn("nn", _int_dot(F.col("nq"), F.col("nq")))
    q = embeddings.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    qc = q.crossJoin(F.broadcast(cents)).select(
        "qid", "qvec", "cid",
        cosine(F.col("qvec"), F.col("cvec")).alias("ccos"),
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("ccos"), F.asc("cid"))
    probes = (
        qc.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= nprobe)
        .select("qid", _sq8_codes(F.col("qvec")).alias("qq"), "cid")
        .withColumn("qn", _int_dot(F.col("qq"), F.col("qq")))
    )
    cand = probes.join(aq, "cid").filter(F.col("vid") != F.col("qid"))
    scored = cand.select(
        "qid", F.col("vid").alias("nid"),
        F.when(
            (F.col("qn") == 0) | (F.col("nn") == 0), F.lit(-2.0)
        ).otherwise(
            _int_dot(F.col("qq"), F.col("nq")).cast("double")
            / F.sqrt(F.col("qn").cast("double") * F.col("nn").cast("double"))
        ).alias("qcos"),
    ).dropDuplicates(["qid", "nid"])
    w = Window.partitionBy("qid").orderBy(F.desc("qcos"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank")
    )


def ivfpq_topk(embeddings: DataFrame, query_ids, k: int = 5,
               n_centroids: int = 8, nprobe: int = 2,
               m: int = 8, k_pq: int = 16,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """IVF-PQ top-k — the index structure billion-vector ANN actually
    deploys (FAISS ``IVFx,PQy`` behavior analogue): coarse IVF routing
    + product quantization of the vectors to ``m`` byte-sized codes
    (8 bytes/vector at m=8 — 32x less than float32), scored by
    asymmetric distance computation (ADC) against a per-query lookup
    table.

    Deterministic, engine-exact variant: vectors are first int8
    scalar-quantized (:func:`_sq8_codes`), the ``j``-th sub-codebook
    is the ``j``-th subvectors of the first ``k_pq`` vectors by id
    (the same deterministic seeding as the IVF centroids), encoding
    takes the integer-L2² argmin per subvector (tie → smaller code),
    and ADC sums integer LUT entries — every distance is EXACT 64-bit
    integer arithmetic, so the DuckDB oracle reproduces the ranking
    bit-for-bit by construction.

    Scale shape: the codebook is control-plane (k_pq rows collected
    once, shipped back as ONE broadcast row — value-independent
    codegen); encoding is map-only and rides the scan; candidate
    scoring touches only the m-byte codes plus a Q×m×k_pq LUT carried
    on the (tiny) probe rows — at 10^12 vectors the float column is
    never read after encode."""
    probe = embeddings.select(vec_col).first()
    if probe is None:
        raise ValueError("empty embeddings table: cannot derive dim")
    dim = len(probe[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sd = dim // m
    rows = ivf_centroid_rows(embeddings, n_centroids, id_col, vec_col, 0)
    assigned = _assign_local(embeddings, rows, id_col, vec_col)
    from lexoid_spark.session import local_rows_df

    cents = local_rows_df(
        embeddings.sparkSession, rows, "cid long, cvec array<double>"
    )
    # control-plane codebook: sq8 codes of the first k_pq vectors,
    # flattened [(j*k_pq + c)*sd + t] — one broadcast row
    train = (
        embeddings.filter(F.col(id_col) < k_pq)
        .select(F.col(id_col).alias("tid"),
                _sq8_codes(F.col(vec_col)).alias("tq"))
        .orderBy("tid").collect()
    )
    if len(train) < k_pq:
        raise ValueError("not enough vectors to seed the PQ codebook")
    import numpy as np
    from pyspark.sql import types as T

    # codebook[j, c, t] — closure-shipped (k_pq·dim ints, control-plane)
    cb_np = np.array(
        [[[int(r["tq"][j * sd + t]) for t in range(sd)] for r in train]
         for j in range(m)], dtype=np.int64)

    def _q8_np(vecs) -> np.ndarray:
        """Vectorized _sq8_codes twin: floor(x·127/maxabs + 0.5) in
        float64 then int64 — bit-identical to the HOF/SQL math."""
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        ma = np.abs(X).max(axis=1, keepdims=True)
        with np.errstate(divide="ignore", invalid="ignore"):
            q = np.floor(X * 127.0 / ma + 0.5)
        q[np.broadcast_to(ma == 0, q.shape)] = 0.0
        return q.astype(np.int64)

    import pandas as pd

    def _encode_fn(vecs):
        if not len(vecs):
            return pd.Series([], dtype=object)
        Q = _q8_np(vecs).reshape(-1, m, 1, sd)
        # (n, m, k_pq): integer L2² to every codebook entry
        d = ((Q - cb_np[None]) ** 2).sum(axis=3)
        codes = d.argmin(axis=2)  # first min → smallest code on ties
        return pd.Series(list(codes))

    def _lut_fn(vecs):
        if not len(vecs):
            return pd.Series([], dtype=object)
        Q = _q8_np(vecs).reshape(-1, m, 1, sd)
        d = ((Q - cb_np[None]) ** 2).sum(axis=3)  # (n, m, k_pq)
        return pd.Series(list(d.reshape(len(vecs), m * k_pq)))

    # non-decorator form: `from __future__ import annotations`
    # stringizes hints, which pandas_udf's type inference rejects
    encode_pq = F.pandas_udf(_encode_fn, T.ArrayType(T.LongType()))
    adc_lut = F.pandas_udf(_lut_fn, T.ArrayType(T.LongType()))

    aq = assigned.select("vid", "cid",
                         encode_pq(F.col("vvec")).alias("codes"))
    q = embeddings.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    qc = q.crossJoin(F.broadcast(cents)).select(
        "qid", "qvec", "cid",
        cosine(F.col("qvec"), F.col("cvec")).alias("ccos"),
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("ccos"), F.asc("cid"))
    # ADC lookup table per query: lut[j*k_pq + c] = L2²(qq_j, cb_jc)
    probes = (
        qc.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= nprobe)
        .select("qid", "cid", adc_lut(F.col("qvec")).alias("lut"))
    )
    cand = probes.join(aq, "cid").filter(F.col("vid") != F.col("qid"))
    dist = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0).cast("long"),
        lambda acc, j: acc + F.element_at(
            F.col("lut"),
            (j * F.lit(k_pq)
             + F.element_at(F.col("codes"), (j + 1).cast("int"))
             + 1).cast("int")),
    )
    scored = cand.select(
        "qid", F.col("vid").alias("nid"), dist.alias("adist"),
    ).dropDuplicates(["qid", "nid"])
    w = Window.partitionBy("qid").orderBy(F.asc("adist"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank")
    )


# stable channel for the semdedup_keepers drop policy (the dynamic
# ``.policy`` attribute is lost on any derived frame)
SEMDEDUP_DOMINANCE_POLICY = (
    "dominance-by-lower-id (NOT greedy keep-first): "
    "chained near-dups a~b~c keep {a}, not {a,c}")


def semdedup_keepers(embeddings: DataFrame, tau: float = 0.9,
                     n_centroids: int = 8, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     impl: str = "gemm") -> DataFrame:
    """SemDeDup-shaped semantic deduplication (Abbas et al. 2023
    behavior analogue): cluster the embeddings (same deterministic IVF
    assignment as :func:`ivf_topk`), and within each cluster drop
    every vector that lies within cosine ``tau`` of ANY lower-id
    vector — the dominated-by-lower-id policy. NOTE this is stricter
    than sequential greedy keep-first on similarity CHAINS: for
    a<b<c with cos(a,b)>=tau, cos(b,c)>=tau, cos(a,c)<tau, greedy
    would keep {a,c} (c compares only against kept vectors) while
    this policy keeps {a} (c is near the already-dropped b). The
    trade is deliberate: dominance is a single relational pass with
    no sequential dependency, and over-dropping chained near-dups is
    the conservative direction for dedup. Returns ``(id_col,)``.

    Built as a composition: :func:`embedding_near_dup_pairs` generates
    the bucket-local pair set (O(sum b_i²), GEMM inner loop), the drop
    set is ``distinct(id_b)``, and the keep list is one LEFT ANTI
    equi-join — every stage map-side-combinable or broadcast-bounded,
    nothing all-pairs across clusters.
    """
    pairs = embedding_near_dup_pairs(
        embeddings, tau=tau, n_centroids=n_centroids,
        id_col=id_col, vec_col=vec_col, impl=impl,
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    out = embeddings.select(id_col).join(dropped, id_col, "left_anti")
    # surfaced so release tooling (corpus reports) can print the
    # policy next to the counts — a user comparing against published
    # SemDeDup numbers must know chains are over-dropped here.
    # NOTE: dynamic DataFrame attributes do not survive any further
    # transformation/select — read it off the DIRECTLY returned frame,
    # or use the stable module constant SEMDEDUP_DOMINANCE_POLICY.
    out.policy = SEMDEDUP_DOMINANCE_POLICY
    return out


def semdedup_keepers_greedy(embeddings: DataFrame, tau: float = 0.9,
                            n_centroids: int = 8, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            impl: str = "gemm",
                            max_rounds: int = 64) -> DataFrame:
    """Paper-faithful SemDeDup keep list: sequential greedy keep-first
    over ascending ids (Abbas et al. 2023) — a vector is DROPPED iff it
    lies within cosine ``tau`` of a lower-id vector that was itself
    KEPT. On chains a~b~c (a<b<c, cos(a,c)<tau) this keeps {a, c}
    where :func:`semdedup_keepers`'s dominance policy keeps {a} — the
    published-numbers-comparable variant.

    The sequential scan is the lexicographically-first maximal
    independent set of the near-dup graph, computed in ROUNDS (the
    same relational-iteration shape as ``dedup.py``'s connected
    components): each round keeps every still-undecided vector with no
    undecided smaller neighbor (its fate can no longer change), drops
    their larger neighbors, and restricts the edge set to undecided
    endpoints. Round count = depth of the keep-dependency DAG — near-
    dup graphs are cluster-bounded so this is shallow in practice;
    every per-round frame is ``localCheckpoint``-ed so lineage stays
    flat, and all joins shuffle on the id key only. Raises past
    ``max_rounds`` rather than returning a partial answer."""
    pairs = embedding_near_dup_pairs(
        embeddings, tau=tau, n_centroids=n_centroids,
        id_col=id_col, vec_col=vec_col, impl=impl,
    )
    edges = pairs.select("id_a", "id_b").distinct().localCheckpoint()
    undecided = embeddings.select(
        F.col(id_col).alias("id")).localCheckpoint()
    kept_parts = []
    for _ in range(max_rounds):
        if undecided.isEmpty():
            break
        # an ACTIVE edge's id_b still has an undecided smaller
        # neighbor — everything else is safe to keep now
        blocked = edges.select(F.col("id_b").alias("id")).distinct()
        keep_now = undecided.join(
            blocked, "id", "left_anti").localCheckpoint()
        kept_parts.append(keep_now)
        drop_now = (
            edges.join(keep_now.withColumnRenamed("id", "id_a"), "id_a")
            .select(F.col("id_b").alias("id")).distinct()
        )
        undecided = (
            undecided.join(keep_now, "id", "left_anti")
            .join(drop_now, "id", "left_anti").localCheckpoint()
        )
        edges = (
            edges.join(undecided.withColumnRenamed("id", "id_a"), "id_a")
            .join(undecided.withColumnRenamed("id", "id_b"), "id_b")
            .select("id_a", "id_b").localCheckpoint()
        )
    # emptiness is only observed at the TOP of an iteration, so a DAG
    # of depth exactly max_rounds finishes inside the loop — check the
    # final state, don't rely on for/else
    if not undecided.isEmpty():
        raise RuntimeError(
            "semdedup_keepers_greedy: keep-dependency chains deeper "
            f"than max_rounds={max_rounds}")
    if not kept_parts:  # empty input
        return embeddings.select(id_col)
    out = kept_parts[0]
    for part in kept_parts[1:]:
        out = out.unionByName(part)
    return out.select(F.col("id").alias(id_col))
