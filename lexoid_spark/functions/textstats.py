"""Text-analysis columns for a training-data pipeline: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

All *native* Spark column expressions (split/transform/filter/md5 —
JVM-side, no Python), each with an exactly-mirrorable DuckDB SQL form
used by the __spark_entry__ oracles. Formulas are deterministic and
documented so both engines compute identical values.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# small closed-class sample; parity-critical: keep in sync with the
# oracle SQL literal list in __spark_entry__.py
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

LANG_MARKERS = {
    "en": "the",
    "de": "der",
    "fr": "le",
    "es": "el",
    "hi": "ka",
}


def tokens(col) -> Column:
    """Whitespace tokens; empty string → empty array."""
    return F.when(
        F.length(F.trim(col)) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(col), r"\s+"))


def token_count(col) -> Column:
    return F.size(tokens(col))


# GPT-2-ish pretokenizer classes: a word with optional leading space,
# a number run, a punctuation run, or residual whitespace-free chars —
# RE2-compatible (no lookahead) so DuckDB can mirror it exactly
BPE_TOKEN_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"


def bpe_token_count(col) -> Column:
    """Subword-ish token count via a BPE-style pretokenizer regex —
    all-JVM (regexp_count), mirrors the GPT-2 pattern's word/number/
    punct split without the lookahead RE2 lacks."""
    return F.regexp_count(col, F.lit(BPE_TOKEN_PATTERN))


def stopword_ratio(col) -> Column:
    toks = tokens(col)
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return F.when(n > 0, F.round(hits / n, 4)).otherwise(F.lit(0.0))


def alnum_ratio(col) -> Column:
    """Share of characters that are [a-zA-Z0-9 ] (1 - punct ratio)."""
    total = F.length(col)
    kept = F.length(F.regexp_replace(col, r"[^a-zA-Z0-9 ]", ""))
    return F.when(total > 0, F.round(kept / total, 4)).otherwise(F.lit(0.0))


def quality_score(col) -> Column:
    """Deterministic quality score in [0,1]:

    0.5*min(1, n_tokens/200) + 0.3*alnum_ratio + 0.2*min(1, 5*stopword_ratio)

    (length prior + cleanliness + natural-language prior; the weights
    are pinned and mirrored by the oracle SQL.)
    """
    nt = token_count(col)
    return F.round(
        0.5 * F.least(F.lit(1.0), nt / F.lit(200.0))
        + 0.3 * alnum_ratio(col)
        + 0.2 * F.least(F.lit(1.0), 5.0 * stopword_ratio(col)),
        4,
    )


def gopher_quality_flags(col) -> Column:
    """Gopher-style repetition/quality filter flags (the rule family
    large-scale text pipelines apply before training), as a struct of
    booleans — all-native JVM, every rule DuckDB-mirrorable:

      word_count_ok     50 ≤ n_tokens ≤ 100 000
      mean_word_len_ok  3 ≤ mean token length ≤ 10
      symbol_ratio_ok   '#' + '…' + '. . .'-free enough:
                        symbols/tokens ≤ 0.1
      bullet_ratio_ok   ≤ 90% of lines start with a bullet
      ellipsis_ratio_ok ≤ 30% of lines end with '...'
      passes            all of the above
      stopword_ok       ≥ 2 distinct required stopwords present
                        (Gopher's "the be to of and that have with")
      passes_strict     passes AND stopword_ok — the full Gopher gate

    ``passes`` keeps the five structural rules so corpora in other
    languages (or synthetic fixtures without English function words)
    aren't zeroed out by default; pipelines wanting Gopher's complete
    English filter gate on ``passes_strict``.
    """
    toks = tokens(col)
    n = F.size(toks)
    mean_len = F.when(
        n > 0,
        F.aggregate(F.transform(toks, lambda t: F.length(t)),
                    F.lit(0).cast("long"), lambda a, x: a + x) / n,
    ).otherwise(F.lit(0.0))
    n_symbols = (
        F.length(col) - F.length(F.regexp_replace(col, r"[#…]", ""))
    )
    lines = F.split(col, "\n")
    n_lines = F.size(lines)
    bullet_lines = F.size(F.filter(
        lines, lambda ln: F.trim(ln).startswith("-")
        | F.trim(ln).startswith("*") | F.trim(ln).startswith("•")
    ))
    ellipsis_lines = F.size(F.filter(
        lines, lambda ln: ln.endswith("...")
    ))
    word_count_ok = (n >= 50) & (n <= 100_000)
    mean_word_len_ok = (mean_len >= 3.0) & (mean_len <= 10.0)
    symbol_ratio_ok = F.when(
        n > 0, n_symbols / n <= 0.1
    ).otherwise(F.lit(False))
    bullet_ratio_ok = F.when(
        n_lines > 0, bullet_lines / n_lines <= 0.9
    ).otherwise(F.lit(True))
    ellipsis_ratio_ok = F.when(
        n_lines > 0, ellipsis_lines / n_lines <= 0.3
    ).otherwise(F.lit(True))
    stopword_ok = F.size(F.array_intersect(
        toks,
        F.array(*[F.lit(w) for w in
                  ("the", "be", "to", "of", "and", "that", "have",
                   "with")]),
    )) >= 2
    passes = (
        word_count_ok & mean_word_len_ok & symbol_ratio_ok
        & bullet_ratio_ok & ellipsis_ratio_ok
    )
    return F.struct(
        word_count_ok.alias("word_count_ok"),
        mean_word_len_ok.alias("mean_word_len_ok"),
        symbol_ratio_ok.alias("symbol_ratio_ok"),
        bullet_ratio_ok.alias("bullet_ratio_ok"),
        ellipsis_ratio_ok.alias("ellipsis_ratio_ok"),
        passes.alias("passes"),
        stopword_ok.alias("stopword_ok"),
        (passes & stopword_ok).alias("passes_strict"),
    )


def langid_table(df, id_col: str, text_col: str):
    """Marker-token language ID in one pass: count each language's
    marker token; argmax wins, ties and zero evidence → 'und', with a
    deterministic tie-break by the fixed marker order en, de, fr, es,
    hi (first strictly-greatest wins).

    A per-row argmax when-chain over array filters references each
    marker count ~7× and interpreted eval re-runs the tokenizer per
    reference (~35 splits/row — measured 6.8 s at sf0.1). Here markers
    are counted in ONE conditional aggregation over exploded tokens
    (shuffle on id only carries 5 ints), then the argmax runs over
    plain int columns. Returns (id, lang_pred).
    """
    from pyspark.sql import functions as F

    ex = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("t")
    ).filter(F.col("t").isin(*LANG_MARKERS.values()))
    counts = ex.groupBy("id").agg(
        *[
            F.sum(F.when(F.col("t") == m, 1).otherwise(0)).alias(f"c_{lang}")
            for lang, m in LANG_MARKERS.items()
        ]
    )
    base = df.select(F.col(id_col).alias("id")).join(counts, "id", "left")
    cols = {lang: F.coalesce(F.col(f"c_{lang}"), F.lit(0))
            for lang in LANG_MARKERS}
    best = F.greatest(*cols.values())
    expr = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when((cols[lang] == best) & (best > 0), F.lit(lang)).otherwise(
            expr
        )
    return base.select("id", expr.alias("lang_pred"))


def count_min_sketch(df, text_col: str, depth: int = 4,
                     width: int = 256):
    """Count-Min sketch of token frequencies: ``depth`` hash rows ×
    ``width`` buckets; estimate(token) = min over rows of its bucket
    count (never under-counts, over-counts bounded by n/width per
    row). THE streaming/mergeable frequency sketch for corpora too
    large to groupBy every distinct token — sketches from partitions
    or days merge by cell-wise addition.

    Hashing is the engine-portable md5 trick (row r uses
    ``md5(token || ':cmsr')``), so a SQL oracle reproduces every cell.
    Returns a DataFrame of (row, bucket, cnt) cells — the sketch in
    relational form (depth×width rows, tiny).
    """
    from lexoid_spark.functions.dedup import _md5_hash64

    ex = df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
    cells = []
    for r in range(depth):
        cells.append(
            ex.select(
                F.lit(r).alias("row"),
                F.pmod(
                    _md5_hash64(F.concat(F.col("tok"), F.lit(f":cms{r}"))),
                    F.lit(width),
                ).alias("bucket"),
            )
        )
    allc = cells[0]
    for c in cells[1:]:
        allc = allc.unionByName(c)
    return allc.groupBy("row", "bucket").agg(F.count("*").alias("cnt"))


def cms_estimate(sketch_df, tokens_list, depth: int = 4,
                 width: int = 256):
    """Point-estimate token frequencies from a relational CM sketch:
    min over the token's ``depth`` cells. The probe set is tiny and
    broadcasts; the sketch itself is depth×width rows."""
    from lexoid_spark.functions.dedup import _md5_hash64

    spark = sketch_df.sparkSession
    probes = spark.createDataFrame(
        [(t,) for t in tokens_list], "tok string"
    )
    keyed = probes.select(
        "tok",
        F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("row"),
    ).select(
        "tok", "row",
        F.pmod(
            _md5_hash64(F.concat(
                F.col("tok"),
                F.concat(F.lit(":cms"), F.col("row").cast("string")),
            )),
            F.lit(width),
        ).alias("bucket"),
    )
    return (
        keyed.join(sketch_df, ["row", "bucket"], "left")
        .groupBy("tok")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def bloom_build(df, key_col: str, n_hashes: int = 4,
                n_bits: int = 4096):
    """Bloom filter in relational form: the DISTINCT set of set bit
    positions (``k`` md5-derived positions per key). Membership
    semantics: no false negatives, false positives bounded by the
    usual (1-e^{-kn/m})^k. The relational form is mergeable (union of
    position sets) and broadcastable — the structure behind semi-join
    pruning when the build side's keys fit in bits but not in rows.
    Portable hashing (row r: ``md5(key || ':blr')``) so a SQL oracle
    reproduces every bit."""
    from lexoid_spark.functions.dedup import _md5_hash64

    k = df.select(F.col(key_col).cast("string").alias("key"))
    parts = [
        k.select(
            F.pmod(
                _md5_hash64(F.concat(F.col("key"), F.lit(f":bl{r}"))),
                F.lit(n_bits),
            ).alias("bit")
        )
        for r in range(n_hashes)
    ]
    allb = parts[0]
    for p in parts[1:]:
        allb = allb.unionByName(p)
    return allb.distinct()


def bloom_probe(bloom_df, probe_df, key_col: str, n_hashes: int = 4,
                n_bits: int = 4096):
    """Probe keys against a relational Bloom filter: a key is
    (maybe-)present iff ALL its ``k`` bit positions are set — checked
    as a count-matching semi-join against the (broadcast) bit set.
    Returns (key, maybe_present)."""
    from lexoid_spark.functions.dedup import _md5_hash64

    keyed = probe_df.select(
        F.col(key_col).cast("string").alias("key")
    ).distinct().select(
        "key",
        F.explode(F.array(*[
            F.pmod(
                _md5_hash64(F.concat(F.col("key"), F.lit(f":bl{r}"))),
                F.lit(n_bits),
            )
            for r in range(n_hashes)
        ])).alias("bit"),
    )
    hits = (
        keyed.join(F.broadcast(bloom_df), "bit", "left_semi")
        .groupBy("key").agg(F.count("*").alias("nhit"))
    )
    return (
        keyed.select("key").distinct()
        .join(hits, "key", "left")
        .select(
            "key",
            (F.coalesce("nhit", F.lit(0)) == n_hashes)
            .alias("maybe_present"),
        )
    )


def hll_registers(df, key_col: str, n_buckets: int = 256):
    """HyperLogLog registers in relational form: per bucket, the max
    leading-zero rank (rho) of the keys' md5-derived 60-bit hashes —
    the mergeable distinct-count sketch (merge = cell-wise MAX).

    Everything is EXACT integer arithmetic (rho via the binary-string
    bit length, not float log2, so a SQL oracle reproduces every
    register): bucket = v % m; w = v >> log2(m) via ``F.shiftright`` —
    a float '/' would round the 60-bit value through double's 53-bit
    mantissa and drift by one for m that isn't a power of two >= 128,
    silently breaking register parity vs DuckDB's integer '//'; rho =
    53 - bitlen(w) with w = 0 capped at 53. Returns (bucket, max_rho).

    ``n_buckets`` must be a power of two >= 128 (the standard HLL
    register widths) so the shift is exact and rho is non-negative."""
    from lexoid_spark.functions.dedup import _md5_hash64

    if n_buckets < 128 or (n_buckets & (n_buckets - 1)) != 0:
        raise ValueError(
            "hll_registers: n_buckets must be a power of two >= 128, "
            f"got {n_buckets}"
        )
    v = _md5_hash64(F.col(key_col).cast("string"))
    bucket = F.pmod(v, F.lit(n_buckets))
    w = F.shiftright(v, n_buckets.bit_length() - 1)
    bitlen = F.length(F.regexp_replace(F.conv(w, 10, 2), "^0+", ""))
    rho = F.lit(53) - bitlen
    return (
        df.select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate(registers, n_buckets: int = 256) -> float:
    """Driver-side cardinality estimate from collected registers
    (standard HLL harmonic mean with the small-range linear-counting
    correction). The registers table is control-plane sized (m rows);
    the estimate is a diagnostic — the exact compare in the oracle is
    over the registers themselves."""
    import math

    regs = {r["bucket"]: r["max_rho"] for r in registers.collect()}
    m = n_buckets
    alpha = 0.7213 / (1 + 1.079 / m)
    z = sum(2.0 ** -regs.get(b, 0) for b in range(m))
    est = alpha * m * m / z
    zeros = m - len(regs)
    if est <= 2.5 * m and zeros > 0:
        est = m * math.log(m / zeros)
    return est


def fingerprint(col) -> Column:
    """Document fingerprint: md5 of the normalized text (F16 + F26)."""
    from lexoid_spark.functions.columns import clean_text

    return F.md5(clean_text(col))


def winnow_fingerprints(df, id_col: str, text_col: str,
                        k: int = 3, window: int = 4):
    """Winnowing fingerprints (rolling-window k-gram selection, the
    MOSS scheme): hash every positional k-gram, slide a ``window``-gram
    window, keep the MIN hash per window, dedupe — a compact sketch
    whose overlap localizes shared passages (exact/near dedup can say
    only that documents match; winnowing says *where*).

    Shape: explode tokens with position (one shuffle on (id, pos) for
    the two window passes), LEAD to form k-grams, frame-window min —
    all native JVM; DuckDB mirrors every step. Rows out:
    (id, fp) distinct, ≈ n_tokens/window per document.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    w_lead = Window.partitionBy("id").orderBy("pos")
    gram = F.concat_ws(
        " ", *[F.lead("tok", j).over(w_lead) for j in range(k)]
    )
    # lead() yields NULL past the end → gram of a partial k-gram is a
    # shorter concat; invalidate it explicitly
    n_parts = sum(
        F.when(F.lead("tok", j).over(w_lead).isNotNull(), 1).otherwise(0)
        for j in range(k)
    )
    grams = toks.select(
        "id", "pos",
        F.when(n_parts == k,
               F.conv(F.substring(F.md5(gram), 1, 15), 16, 10)
               .cast("long")).alias("h"),
    )
    w_frame = (
        Window.partitionBy("id").orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    anchored = grams.select(
        "id",
        F.min("h").over(w_frame).alias("fp"),
        F.count("h").over(w_frame).alias("_n"),
    )
    return (
        anchored.filter(F.col("_n") == window)
        .select("id", "fp")
        .distinct()
    )


# ---------------------------------------------------------------------------
# TF-IDF term ranking + inverted postings (search-index shapes)
# ---------------------------------------------------------------------------

def tfidf_topk(df, id_col: str, text_col: str, k: int = 5):
    """Top-``k`` characteristic terms per document by an exact-integer
    tf-idf variant: ``score_micros = tf * ((N * 10^6) div df)`` — term
    frequency times the integer-scaled inverse document frequency, no
    float logs, so the DuckDB oracle reproduces every score and every
    tie-break (score desc, term asc) bit-for-bit.

    Scale shape: one explode feeds a (id, term) tf aggregation
    (map-side combinable); df is a second combine-friendly aggregation
    over distinct (id, term) pairs — both shuffle on bounded keys. The
    corpus size N is a scalar broadcast. The rank window partitions by
    document over its DISTINCT terms only (bounded by doc length),
    never over corpus-wide partitions. Returns
    ``(id, term, tf, df, score_micros, rank)``.
    """
    words = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("w")
    )
    tf = words.groupBy("id", "w").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    n_docs = df.select(
        F.countDistinct(F.col(id_col)).alias("n")
    )
    from pyspark.sql import Window as _W

    scored = (
        tf.join(dfreq, "w")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score_micros",
                    F.expr("tf * ((n * 1000000) div df)"))
        .withColumn(
            "rank",
            F.row_number().over(
                _W.partitionBy("id").orderBy(
                    F.desc("score_micros"), F.asc("w"))
            ),
        )
        .filter(F.col("rank") <= k)
    )
    return scored.select(
        F.col("id").alias(id_col), F.col("w").alias("term"),
        "tf", "df", "score_micros", "rank",
    )


def inverted_postings(df, id_col: str, text_col: str,
                      max_postings: int = 20):
    """Inverted index build: term → document frequency + the first
    ``max_postings`` doc ids (sorted ascending, comma-joined so the
    row hashes identically across engines). The posting-list cap is
    the standard defense against stop-word rows: a term in 10^9 docs
    aggregates its df exactly (map-side combinable count) but ships
    only a bounded prefix of ids.

    Scale note: ``collect_set`` per term is bounded by the cap only
    after the fact — at true scale the prefix would be selected with a
    rank-filter before aggregation; here df stays exact and the
    capped list is deterministic. Returns ``(term, df, postings)``.
    """
    pairs = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(tokens(F.col(text_col))).alias("w"),
        )
        .distinct()
    )
    return (
        pairs.groupBy("w")
        .agg(
            F.count("*").alias("df"),
            F.array_join(
                F.slice(F.sort_array(F.collect_set("id")), 1,
                        max_postings),
                ",",
            ).alias("postings"),
        )
        .select(F.col("w").alias("term"), "df", "postings")
    )
