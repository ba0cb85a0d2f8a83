"""Native (JVM-side, codegen'd) column expressions.

Everything here stays inside whole-stage codegen — no Python in the hot
path. Each expression mirrors a reference scalar function (SURVEY.md
§2.8) and its pure-Python twin in ``kernels/text_ops.py``. The
``sql_ident``/``sql_str`` quoting helpers serve the plan pieces that
are built as SQL text (a Column-API spelling costs py4j round trips on
every build).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# reference: static_parser.py:248-256
EMAIL_REGEX = r"(?<![<\[])(\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b)(?![>\]])"
# reference: utils.py:386-407
MD_LINK_REGEX = r"\[[^\]]+\]\((https?://[^\s\)]+)\)"
BARE_URL_REGEX = r"(https?://[^\s\)]+)"


def embed_email_links(col) -> Column:
    """Wrap bare emails in angle brackets (F5) — native regexp_replace."""
    return F.regexp_replace(col, EMAIL_REGEX, r"<$1>")


def extract_md_urls(col) -> Column:
    """URLs from [text](url) + bare URLs, deduplicated (F4).

    Note: Spark's regexp lacks the reference's (?<!\\() guard cheaply for
    the bare form; link URLs are a superset that includes the
    markdown-link targets, so a distinct union matches the reference's
    ``list(set(...))`` semantics.
    """
    return F.array_distinct(
        F.concat(
            F.regexp_extract_all(col, F.lit(MD_LINK_REGEX), F.lit(1)),
            F.regexp_extract_all(col, F.lit(BARE_URL_REGEX), F.lit(1)),
        )
    )


def strip_markdown(col) -> Column:
    """Drop md formatting, unwrap links, strip inline tags (F15)."""
    c = F.regexp_replace(col, r"[*_`~]", "")
    c = F.regexp_replace(c, r"\[([^\]]+)\]\([^)]+\)", r"$1")
    c = F.regexp_replace(c, r"<.*?>|&([a-z0-9]+|#[0-9]{1,6}|#x[0-9a-f]{1,6});", " ")
    return c


def clean_text(col) -> Column:
    """Benchmark-metric normalizer (F16)."""
    c = F.regexp_replace(col, r"\\[a-zA-Z]+(\[[^\]]*\])?(\{[^}]*\})?", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    c = F.regexp_replace(c, r"[^a-zA-Z0-9 ]", " ")
    return F.trim(c)


def cleanup_redundant_formatting(col) -> Column:
    """Order-sensitive cleanup chain (F13, static_parser.py:662-668)."""
    c = F.replace(col, F.lit("** **"), F.lit(" "))
    c = F.replace(c, F.lit("* *"), F.lit(" "))
    c = F.replace(c, F.lit("` `"), F.lit(" "))
    c = F.replace(c, F.lit("\n```\n\n```"), F.lit(""))
    return c


def sql_ident(name: str) -> str:
    """``name`` as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(value: str) -> str:
    """``value`` as a SQL string literal (backslash escapes, the
    parser's default)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def salt(col, buckets: int) -> Column:
    """Deterministic salt for hot keys: pmod(xxhash64(k), buckets)."""
    return F.pmod(F.xxhash64(col), F.lit(buckets))


MD_ANCHOR_LINK_REGEX = r"\[([^\]]+)\]\((https?://[^\s\)]+)\)"


def anchor_text_index(df, id_col: str, md_col: str,
                      max_anchors: int = 10):
    """Corpus-wide anchor-text index: for every link TARGET, how many
    documents reference it and with which visible anchor texts — the
    classic web-search signal (anchor text describes the target better
    than the target describes itself).

    ``[anchor](url)`` pairs come from two parallel
    ``regexp_extract_all`` group extractions zipped positionally
    (inputs aliased first — computed-expression ``arrays_zip`` names
    fields "0"/"1" otherwise); aggregation is groupBy(url) with exact
    ref/doc counts (map-side combinable) and a capped, sorted,
    distinct anchor list so a link farm can't blow up a row. Returns
    ``(url, n_refs, n_docs, anchors)``.
    """
    pairs = (
        df.select(
            F.col(id_col).alias("id"),
            F.regexp_extract_all(
                F.col(md_col), F.lit(MD_ANCHOR_LINK_REGEX), F.lit(1)
            ).alias("txts"),
            F.regexp_extract_all(
                F.col(md_col), F.lit(MD_ANCHOR_LINK_REGEX), F.lit(2)
            ).alias("urls"),
        )
        .select("id", F.explode(F.arrays_zip("txts", "urls")).alias("z"))
        .select(
            "id",
            F.col("z.txts").alias("anchor"),
            F.col("z.urls").alias("url"),
        )
    )
    return (
        pairs.groupBy("url")
        .agg(
            F.count("*").alias("n_refs"),
            F.countDistinct("id").alias("n_docs"),
            F.array_join(
                F.slice(F.array_sort(F.collect_set("anchor")), 1,
                        max_anchors),
                "|",
            ).alias("anchors"),
        )
    )


def html_head_meta(col) -> Column:
    """Head metadata a crawl pipeline reads before anything else —
    canonical URL (the dedup key the site itself declares), OpenGraph
    title, robots meta (noindex → exclude from the corpus), and the
    declared language — as one struct, all anchored regexp_extract
    (JVM-side, zero shuffle, Java/RE2-portable so a SQL oracle
    mirrors each field). Attribute-order tolerant for canonical
    (rel-then-href and href-then-rel both match); absent fields are
    NULL. No reference counterpart (Lexoid parses body content only);
    this is crawl-curation surface."""
    c = F.col(col) if isinstance(col, str) else col
    canon = F.coalesce(
        F.nullif(F.regexp_extract(
            c, "<link[^>]*rel=\"canonical\"[^>]*href=\"([^\"]+)\"", 1),
            F.lit("")),
        F.nullif(F.regexp_extract(
            c, "<link[^>]*href=\"([^\"]+)\"[^>]*rel=\"canonical\"", 1),
            F.lit("")),
    )
    og_title = F.nullif(F.regexp_extract(
        c, "<meta[^>]*property=\"og:title\"[^>]*content=\"([^\"]*)\"", 1),
        F.lit(""))
    robots = F.lower(F.nullif(F.regexp_extract(
        c, "<meta[^>]*name=\"robots\"[^>]*content=\"([^\"]*)\"", 1),
        F.lit("")))
    lang = F.nullif(F.regexp_extract(
        c, "<html[^>]*lang=\"([^\"]*)\"", 1), F.lit(""))
    return F.struct(
        canon.alias("canonical"),
        og_title.alias("og_title"),
        robots.alias("meta_robots"),
        F.coalesce(robots.contains("noindex"), F.lit(False))
        .alias("noindex"),
        lang.alias("lang"),
    )


def html_jsonld(col) -> Column:
    """The first ``<script type="application/ld+json">`` block — the
    schema.org structured data real pipelines mine for article
    metadata — as a raw JSON string column (NULL when absent).
    Anchored non-greedy regexp_extract, JVM-side, zero shuffle;
    downstream field access stays native via ``F.get_json_object``.
    No reference counterpart; crawl-curation surface."""
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(
        F.regexp_extract(
            c,
            "(?s)<script[^>]*type=\"application/ld\\+json\"[^>]*>"
            "(.*?)</script>",
            1,
        ),
        F.lit(""),
    )
