"""Deduplication operators for a web-scale training-data pipeline.

All variants scale as shuffles on bounded keys — no O(n²) pairwise
compare except within tiny LSH buckets:

- exact:      groupBy(md5(normalized text)) — one shuffle.
- minhash+LSH: shingle → K minhashes → B bands → groupBy(band, hash)
  bucket-join; only bucket collisions are candidate pairs.
- simhash:    60-bit signature from per-token md5 hashes, all native
  JVM; near-dup = small Hamming distance, bucketed by 15-bit blocks.

MinHash here is *deterministic and engine-portable*: hash_k(shingle) =
first 15 hex digits of md5(shingle || ':' || k) as a bigint, so DuckDB
can mirror it exactly (__spark_entry__ oracles).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lexoid_spark.functions.textstats import tokens


def shingles(col, n: int = 3) -> Column:
    """Distinct n-gram (token-level) shingles of a text column.

    Built by zipping n shifted copies of the token array and
    transforming the zip. Referencing the token array *inside* a
    higher-order-function lambda (e.g. ``slice(toks, i+1, n)``) makes
    interpreted eval re-run the regex split once per shingle position —
    quadratic per document; the shifted-zip form evaluates the split a
    fixed n+1 times per row (measured ~6× faster at sf0.1).
    """
    toks = tokens(col)
    k = F.size(toks)
    shifted = [toks] + [
        F.slice(toks, j + 1, F.greatest(k - j, F.lit(0)))
        for j in range(1, n)
    ]
    zipped = F.slice(
        F.arrays_zip(*shifted), 1, F.greatest(k - (n - 1), F.lit(0))
    )
    grams = F.transform(
        zipped,
        lambda x: F.concat_ws(
            " ", *[x.getField(str(j)) for j in range(n)]
        ),
    )
    return F.when(k < n, F.array(F.concat_ws(" ", toks))).otherwise(
        F.array_distinct(grams)
    )


def _md5_hash64(s: Column) -> Column:
    """Portable 60-bit hash: bigint of md5 hex prefix (DuckDB-mirrorable)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def _minhash_hash32(sh: Column, k: int) -> Column:
    """k-th 32-bit minhash function: 8 hex chars carved out of digest
    group ``k // 4`` (``md5(s)`` for group 0, ``md5(s || ':g')``
    beyond) — ceil(K/4) md5 evaluations per shingle instead of K
    (Catalyst CSE collapses the four references to one digest; measured
    ~2.8× faster cold / 1.4× warm at sf0.1 for K=8). 32 bits is ample
    for LSH banding (band buckets md5 the concatenated values anyway).
    DuckDB mirror: ('0x' || substr(md5(..), off, 8))::BIGINT."""
    g, part = divmod(k, 4)
    digest = F.md5(sh) if g == 0 else F.md5(F.concat(sh, F.lit(f":{g}")))
    return F.conv(
        F.substring(digest, part * 8 + 1, 8), 16, 10
    ).cast("long")


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 16,
                       shingle_n: int = 3) -> DataFrame:
    """Bulk minhash: explode shingles once, hash, groupBy-min.

    Evaluates the tokenizer exactly once per document and md5 only
    ceil(K/4) times per shingle (see :func:`_minhash_hash32`; the
    nested-transform column form re-evaluates the whole shingle
    pipeline per hash — ~4× slower at sf0.1). The groupBy shuffles
    only (id, K longs) partial aggregates (map-side combine), so it
    scales to 10^12 docs. Returns (id, h0..h{K-1}).
    """
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("_sh"),
    )
    hashed = ex.select(
        "id",
        *[
            _minhash_hash32(F.col("_sh"), k).alias(f"h{k}")
            for k in range(num_hashes)
        ],
    )
    return hashed.groupBy("id").agg(
        *[F.min(f"h{k}").alias(f"h{k}") for k in range(num_hashes)]
    )


def lsh_candidate_pairs(df: DataFrame, id_col: str, text_col: str,
                        num_hashes: int = 16, bands: int = 4,
                        shingle_n: int = 3,
                        max_bucket_size: int = 10_000) -> DataFrame:
    """MinHash-LSH candidate duplicate pairs (id_a < id_b).

    shingle → minhash → band → bucket-join: the classic
    banding scheme; rows per bucket are tiny so the self-join is a
    bucket-local explode, not a cross join.

    LSH hygiene for boilerplate-heavy web corpora: a degenerate bucket
    (millions of byte-identical pages sharing one band hash) would
    explode quadratically, so buckets larger than ``max_bucket_size``
    are deterministically split into ⌈size/cap⌉ sub-buckets and only
    joined within a sub-bucket. Pairs straying across sub-buckets are
    lost — bounded recall loss on exactly the inputs exact-dedup
    (one md5 shuffle) already removes, so run it first at scale.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    banded = sig.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws(",", *[
                            F.col(f"h{b * rows_per_band + r}").cast("string")
                            for r in range(rows_per_band)
                        ])
                    ).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket")).persist()
    # oversized buckets are RARE by construction (a band hash collision
    # of millions of docs = boilerplate), so the size probe is a tiny
    # aggregate broadcast back onto the banded frame — no window sort,
    # no extra shuffle of the full data (a count() window over
    # (band,bucket) re-shuffled everything and measured 1.4× slower).
    # banded is persisted: the aggregate and both self-join sides read
    # the cache, so the minhash explode runs ONCE (round 1 ran it twice)
    oversized = (
        banded.groupBy("band", "bucket")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > max_bucket_size)
    )
    n_sub = F.ceil(F.col("_n") / F.lit(max_bucket_size)).cast("long")
    banded = banded.join(
        F.broadcast(oversized), ["band", "bucket"], "left"
    ).withColumn(
        "sub_bucket",
        F.when(F.col("_n").isNull(), F.lit(0)).otherwise(
            F.pmod(
                F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 8),
                       16, 10).cast("long"),
                n_sub,
            )
        ),
    ).drop("_n")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bucket", "sub_bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Duplicate clusters from candidate pairs: (id, cluster_id) where
    cluster_id = min doc id in the connected component.

    The step LSH stops short of: near-dup PAIRS must become GROUPS
    before a keeper can be chosen (A and B dups, B and C dups → one
    cluster {A,B,C}, keep A). Min-label propagation over the
    undirected edge set, one round per iteration:

        label(v) ← min(label(v), min over neighbors u of label(u))

    Each round is a join + groupBy on the (persisted) edge table —
    shuffles only (node, label) pairs — and converges in
    O(graph diameter) rounds. Near-dup graphs are dense blobs with
    tiny diameter (docs similar to each other), so 3–4 rounds settle
    real corpora; ``max_iter`` bounds adversarial chains. Only docs
    that appear in some pair get a row (singletons are their own
    cluster by definition — don't materialize corpus-sized identity).
    """
    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    # localCheckpoint truncates lineage each round — the label frame is
    # referenced twice per iteration (propagate + change probe), so an
    # un-truncated logical plan doubles per round and OOMs the DRIVER
    # long before any executor feels it. On a cluster with flaky
    # executors, swap for reliable checkpoint(dir).
    und = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().localCheckpoint(eager=True)
    labels = und.select("a").distinct().withColumn(
        "lbl", F.col("a")
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        nbr = (
            und.join(
                labels.select(F.col("a").alias("b"),
                              F.col("lbl").alias("nlbl")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nlbl").alias("min_nbr"))
        )
        new_labels = (
            labels.join(nbr, "a", "left")
            .select(
                "a",
                F.least(
                    F.col("lbl"), F.coalesce("min_nbr", F.col("lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(
                labels.select("a", F.col("lbl").alias("old")), "a"
            )
            .filter(F.col("lbl") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("a").alias("id"), F.col("lbl").alias("cluster_id"))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact deduplication: one keeper (lowest id) per normalized-text
    fingerprint — the hash-groupBy variant (one shuffle on the md5 key;
    at 10^12 rows the map-side partial keeps it bounded). Returns the
    deduped rows plus the group size as ``n_dups``."""
    from lexoid_spark.functions.textstats import fingerprint
    from pyspark.sql import Window

    w = Window.partitionBy("_fp").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_fp", fingerprint(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("n_dups",
                    F.count("*").over(Window.partitionBy("_fp")))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_fp")
    )


# --- SimHash (fully native JVM, DuckDB-mirrorable) ----------------------------

def simhash_signatures_portable(df: DataFrame, id_col: str, text_col: str,
                                bits: int = 60) -> DataFrame:
    """SimHash signatures with an engine-portable token hash.

    The per-token hash is the md5-derived 60-bit bigint
    (``_md5_hash64``), so DuckDB can mirror it bit-for-bit — and the
    whole computation is native JVM (no Python at all): explode tokens →
    hash → ONE groupBy with 60 per-bit majority sums (map-side
    combine; shuffles (id, 60 small ints) partials). Empty-token docs
    drop out of the explode and get no signature (they can't be
    near-dups of anything by content).
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("_t"),
    )
    h = toks.select("id", _md5_hash64(F.col("_t")).alias("hv"))
    # per-bit majority as 2·Σbit_b − n > 0: summing the bare bit and
    # counting once beats folding (bit·2−1) into every per-bit sum
    # (~25% less per-row aggregate work, measured at sf0.1)
    scored = h.groupBy("id").agg(
        F.count("*").alias("_n"),
        *[
            F.sum(
                F.shiftrightunsigned("hv", b).bitwiseAND(F.lit(1))
            ).alias(f"b{b}")
            for b in range(bits)
        ],
    )
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig + F.when(
            F.col(f"b{b}") * 2 > F.col("_n"),
            F.lit(1 << b).cast("long"),
        ).otherwise(F.lit(0))
    return scored.select("id", sig.alias("sim"))


def simhash_near_pairs_portable(df: DataFrame, id_col: str, text_col: str,
                                max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by portable SimHash: 4×15-bit block pigeonhole
    bucketing over the 60-bit signature (any pair within Hamming
    distance ≤ 3 shares at least one exact block), then the exact
    Hamming filter via bit_count(xor); every step DuckDB-expressible
    (the CORRECTNESS oracle)."""
    # both self-join sides derive from the signature frame; pin it so
    # the token explode + 60-sum aggregation runs once per query, not
    # once per side (16 bytes/doc cached vs a second full pass —
    # guide §5). The entry bench clears the cache between passes.
    sig = simhash_signatures_portable(df, id_col, text_col).persist()
    blocks = sig.select(
        "id", "sim",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("block"),
                    F.shiftrightunsigned("sim", 15 * b)
                    .bitwiseAND(F.lit(0x7FFF)).alias("val"),
                )
                for b in range(4)
            ])
        ).alias("bv"),
    ).select("id", "sim", F.col("bv.block").alias("block"),
             F.col("bv.val").alias("val"))
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(b, ["block", "val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.sim").alias("sim_a"), F.col("b.sim").alias("sim_b"))
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.filter(hamming <= max_hamming).select(
        "id_a", "id_b", hamming.alias("hamming")
    )
