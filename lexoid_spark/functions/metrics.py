"""Similarity metrics (reference A7: ``tests/benchmark_utils.py:31-114``
in /root/reference — SequenceMatcher ratio, TF-IDF cosine, Jaccard,
precision/recall/F1 between a parsed text and its ground truth).

Token-set metrics are native Spark columns (array_intersect /
array_except — JVM-side). SequenceMatcher and per-pair TF-IDF cosine
are inherently per-pair algorithms → Arrow-batched pandas UDFs
(stdlib difflib + a from-scratch two-document TF-IDF, no sklearn).
"""

from __future__ import annotations

import difflib
import math
import re
from collections import Counter

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lexoid_spark.functions.textstats import tokens
from lexoid_spark.functions.udfs import row_udf


def _toklist(s: str) -> list[str]:
    return re.split(r"\s+", s.strip()) if s and s.strip() else []


def _tfidf_cosine_pair(a: str, b: str) -> float:
    """Two-document TF-IDF cosine (reference benchmark_utils.py:44-55
    semantics: fit on the pair, cosine of the two vectors).

    With only two documents, idf = 1 for shared terms and a constant
    boost for exclusive terms (smoothed: idf = ln((n+1)/(df+1)) + 1,
    n=2) — matching sklearn's smooth_idf on a 2-doc corpus.
    """
    ta, tb = _toklist(a.lower()), _toklist(b.lower())
    if not ta or not tb:
        return 0.0
    ca, cb = Counter(ta), Counter(tb)
    vocab = set(ca) | set(cb)
    va, vb = [], []
    for t in vocab:
        df = (t in ca) + (t in cb)
        idf = math.log(3.0 / (df + 1)) + 1.0
        va.append(ca.get(t, 0) * idf)
        vb.append(cb.get(t, 0) * idf)
    dot = sum(x * y for x, y in zip(va, vb))
    na = math.sqrt(sum(x * x for x in va))
    nb = math.sqrt(sum(x * x for x in vb))
    return dot / (na * nb) if na and nb else 0.0


def seq_ratio(a: str | None, b: str | None) -> float:
    """difflib.SequenceMatcher ratio (reference benchmark_utils.py:31-41)."""
    return difflib.SequenceMatcher(None, a or "", b or "").ratio()


def tfidf_cosine(a: str | None, b: str | None) -> float:
    return _tfidf_cosine_pair(a or "", b or "")


seq_ratio_udf = row_udf(seq_ratio, T.DoubleType())
tfidf_cosine_udf = row_udf(tfidf_cosine, T.DoubleType())


def token_set_metrics(a, b) -> dict[str, Column]:
    """Jaccard / precision / recall / F1 on distinct token sets
    (reference benchmark_utils.py:58-114) — all native columns.

    precision = |A∩B| / |A| (A = parsed), recall = |A∩B| / |B|
    (B = ground truth), false positives = A∖B, false negatives = B∖A.
    A null side counts as "", as in ``seq_ratio``/``tfidf_cosine``.
    """
    sa = F.array_distinct(tokens(F.coalesce(a, F.lit(""))))
    sb = F.array_distinct(tokens(F.coalesce(b, F.lit(""))))
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = F.size(F.array_union(sa, sb)).cast("double")
    na = F.size(sa).cast("double")
    nb = F.size(sb).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    prec = F.when(na > 0, inter / na).otherwise(F.lit(0.0))
    rec = F.when(nb > 0, inter / nb).otherwise(F.lit(0.0))
    f1 = F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(
        F.lit(0.0)
    )
    return {"jaccard": jac, "precision": prec, "recall": rec, "f1": f1}


def similarity_report(df, parsed_col: str, truth_col: str):
    """All six reference metrics as columns on df (A7)."""
    m = token_set_metrics(F.col(parsed_col), F.col(truth_col))
    return df.select(
        "*",
        seq_ratio_udf(F.col(parsed_col), F.col(truth_col)).alias(
            "seq_ratio"
        ),
        tfidf_cosine_udf(F.col(parsed_col), F.col(truth_col)).alias(
            "tfidf_cosine"
        ),
        m["jaccard"].alias("jaccard"),
        m["precision"].alias("precision"),
        m["recall"].alias("recall"),
        m["f1"].alias("f1"),
    )
