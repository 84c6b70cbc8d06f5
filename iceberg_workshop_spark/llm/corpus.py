"""Corpus-analysis operators for LLM training-data pipelines: URL
canonicalization dedup, soft dedup, cross-source overlap, importance
resampling, keyword tagging, n-gram novelty, lexical diversity, PMI
collocations, and tokenizer fertility.

These extend the dedup/curation families (llm/dedup.py,
llm/curation.py) with the *analysis* passes a data team runs before
committing to a mix: what overlaps what, which sources are diverse,
which documents matter for a target domain. The reference has no text
ops (it is a SQL workshop — ``/root/reference/README.md:22``); these
follow the public data-pipeline literature (CCNet, Gopher §A, DSIR
arXiv:2302.03169, RefinedWeb) re-expressed as Spark plans.

Hash-stability: every score is integer or scaled-integer (ppm via
``DIV``), never float division (SURVEY.md §5.3). Scale notes per
query; the common shape is explode → narrow distinct/agg on the
token/shingle key → small broadcast of per-corpus constants → one
grouped finish. Nothing collects rows to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from iceberg_workshop_spark.registry import guard_axis as _guard_axis
from iceberg_workshop_spark.registry import persist, register
from iceberg_workshop_spark.sources.tables import load

# Shared DuckDB fragments (Spark sides use the equivalent built-ins).
_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS_CTE = f"""
    toks AS (
      SELECT doc_id, lang, source,
             unnest(string_split({_NORM_SQL}, ' ')) AS tok,
             generate_subscripts(string_split({_NORM_SQL}, ' '), 1) AS pos
      FROM documents
    )
"""

BPE_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"  # textstats.py's pre-tokenizer


def _norm_text(c: Column) -> Column:
    """Canonical text form: lowercase, whitespace-collapsed, trimmed —
    the one normalization dedup and curation share."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def _toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, source, tok, pos) — pos is 1-based to match
    DuckDB's generate_subscripts."""
    docs = load(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.posexplode(F.split(_norm_text(F.col("text")), " ")).alias(
            "pos0", "tok"
        ),
    ).select(
        "doc_id", "lang", "source", "tok", (F.col("pos0") + 1).alias("pos")
    )


# --------------------------------------------------------------------------
# URL canonicalization dedup

# Deterministic raw-URL synthesis: 3 host spellings x 4 suffix forms
# cycle by doc_id; every 4 consecutive doc_ids share a path group, so
# canonicalization must collapse spelling variants (case, default
# port, utm params, trailing slash, fragments) to find the dupes.
_URL_RAW_SQL = """
    'https://' ||
    CASE doc_id % 3 WHEN 0 THEN 'Example.COM'
                    WHEN 1 THEN 'example.com'
                    ELSE 'EXAMPLE.com:443' END ||
    '/p/' || CAST(doc_id // 4 AS VARCHAR) ||
    CASE (doc_id % 12) // 3
      WHEN 0 THEN ''
      WHEN 1 THEN '/'
      WHEN 2 THEN '?utm_source=feed#top'
      ELSE '?page=2&utm_campaign=x' END
"""


def _url_raw_spark() -> Column:
    host = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("Example.COM"))
        .when(F.col("doc_id") % 3 == 1, F.lit("example.com"))
        .otherwise(F.lit("EXAMPLE.com:443"))
    )
    sfx_k = (F.col("doc_id") % 12).cast("long")
    suffix = (
        F.when(sfx_k < 3, F.lit(""))
        .when(sfx_k < 6, F.lit("/"))
        .when(sfx_k < 9, F.lit("?utm_source=feed#top"))
        .otherwise(F.lit("?page=2&utm_campaign=x"))
    )
    return F.concat(
        F.lit("https://"),
        host,
        F.lit("/p/"),
        (F.col("doc_id") / 4).cast("long").cast("string"),
        suffix,
    )


def canonical_url(url: Column) -> Column:
    """Canonical dedup key for a raw URL: lowercase host, strip the
    default :443 port, drop the fragment, strip ``utm_*`` tracking
    params, collapse the separators that leaves behind, trim a
    trailing slash. Scheme is pinned to https (the corpus synthesizer
    only emits https URLs).

    The utm strip is anchored to a parameter BOUNDARY (``[?&]`` kept
    via backreference): an unanchored strip also rewrites data params
    that merely contain the substring (``?xutm_source=1`` →
    ``?x`` — silently merging distinct documents). Percent-encoding is
    deliberately NOT decoded: ``%2F`` must stay distinct from a
    literal ``/`` (decoding can only create wrong merges; case-variant
    escapes failing to merge is a recall miss, the safe direction).
    Property-tested (idempotence, boundary anchoring, encoded-path
    round-trip, DuckDB dialect parity) in tests/test_corpus.py."""
    host = F.regexp_replace(
        F.lower(F.regexp_extract(url, r"https://([^/?#]+)", 1)),
        r":443$",
        "",
    )
    rest = F.regexp_extract(
        F.regexp_replace(url, r"#.*$", ""), r"https://[^/?#]+([^#]*)", 1
    )
    rest = F.regexp_replace(rest, r"([?&])utm_[a-z]+=[^&]*", "$1")
    rest = F.regexp_replace(rest, r"([?&])[?&]+", "$1")
    rest = F.regexp_replace(rest, r"[?&]+$", "")
    rest = F.regexp_replace(rest, r"/$", "")
    return F.concat(F.lit("https://"), host, rest)


def canonical_url_sql(expr: str) -> str:
    """DuckDB rendering of :func:`canonical_url` — same regexes in the
    RE2 dialect (``\\1`` backreferences, explicit 'g' flag)."""
    return f"""
             'https://' ||
             regexp_replace(lower(regexp_extract({expr}, 'https://([^/?#]+)', 1)),
                            ':443$', '') ||
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_extract(regexp_replace({expr}, '#.*$', ''),
                                    'https://[^/?#]+([^#]*)', 1),
                     '([?&])utm_[a-z]+=[^&]*', '\\1', 'g'),
                   '([?&])[?&]+', '\\1', 'g'),
                 '[?&]+$', ''),
               '/$', '')
    """


@register(
    "q_llm_dedup_url",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_URL_RAW_SQL} AS url FROM documents
    ), canon AS (
      SELECT doc_id, {canonical_url_sql("url")} AS curl
      FROM raw
    ), clusters AS (
      SELECT curl, COUNT(*) AS sz, MIN(doc_id) AS keeper
      FROM canon GROUP BY curl
    )
    SELECT COUNT(*) AS n_canon,
           CAST(SUM(sz) AS BIGINT) AS n_raw,
           CAST(SUM(sz) - COUNT(*) AS BIGINT) AS n_dupes,
           MAX(sz) AS max_cluster,
           CAST(SUM(keeper) AS BIGINT) AS sum_kept_ids
    FROM clusters
    """,
)
def q_llm_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the first dedup pass of every web
    corpus (crawls re-fetch the same page under case/port/tracking-
    param/fragment variants). Canonical form: lowercase host, strip
    default port, drop utm_* params and fragments, trim trailing
    slash; keep MIN(doc_id) per canonical URL. Pure string built-ins
    → one groupBy on the canonical key; at 100 TB this is the cheap
    shuffle that removes ~30% of a crawl before any content hashing
    runs."""
    raw = load(spark, sf_dir, "documents").select(
        "doc_id", _url_raw_spark().alias("url")
    )
    canon = raw.select(
        "doc_id", canonical_url(F.col("url")).alias("curl")
    )
    clusters = canon.groupBy("curl").agg(
        F.count(F.lit(1)).alias("sz"), F.min("doc_id").alias("keeper")
    )
    return clusters.agg(
        F.count(F.lit(1)).alias("n_canon"),
        F.sum("sz").alias("n_raw"),
        (F.sum("sz") - F.count(F.lit(1))).alias("n_dupes"),
        F.max("sz").alias("max_cluster"),
        F.sum("keeper").alias("sum_kept_ids"),
    )


# --------------------------------------------------------------------------
# Soft dedup (down-weight duplicates instead of dropping)


@register(
    "q_llm_dedup_soft",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, source, {_NORM_SQL} AS norm FROM documents
    ), sz AS (
      SELECT norm, COUNT(*) AS cluster_sz FROM c GROUP BY norm
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN cluster_sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           CAST(SUM(1000000 // cluster_sz) AS BIGINT) AS eff_docs_ppm
    FROM c JOIN sz USING (norm)
    GROUP BY source
    ORDER BY source
    """,
)
def q_llm_dedup_soft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (SoftDeDup, arXiv:2407.04752 shape): instead of
    dropping duplicates, each document gets sampling weight
    1/cluster_size (ppm integer), preserving corpus coverage while
    removing duplication's gradient bias. Per-source effective
    dataset mass = Σ weights. Plan: one groupBy on the normalized
    text (at scale: on xxhash64 of it), broadcast-join the cluster
    sizes back, one grouped finish."""
    c = load(spark, sf_dir, "documents").select(
        "doc_id", "source", _norm_text(F.col("text")).alias("norm")
    )
    sz = c.groupBy("norm").agg(F.count(F.lit(1)).alias("cluster_sz"))
    return (
        c.join(sz, "norm")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("cluster_sz") == 1, 1).otherwise(0)
            ).alias("n_unique"),
            F.sum(
                F.expr("1000000 DIV cluster_sz")
            ).alias("eff_docs_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Cross-source shingle overlap (mirror / contamination matrix)


@register(
    "q_llm_source_overlap",
    oracle=f"""
    WITH {_TOKS_CTE}, sh AS (
      SELECT doc_id, source,
             tok || ' ' || LEAD(tok) OVER w || ' ' || LEAD(tok, 2) OVER w
               AS shingle
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), ss AS (
      SELECT DISTINCT source, shingle FROM sh WHERE shingle IS NOT NULL
    ), sz AS (
      SELECT source, COUNT(*) AS n FROM ss GROUP BY source
    ), inter AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
      FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, n_shared,
           CAST(CAST(1000000 AS HUGEINT) * n_shared
                // LEAST(sa.n, sb.n) AS BIGINT) AS overlap_ppm
    FROM inter
    JOIN sz sa ON sa.source = src_a
    JOIN sz sb ON sb.source = src_b
    ORDER BY overlap_ppm DESC, src_a, src_b
    LIMIT 20
    """,
)
def q_llm_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair overlap matrix: shared distinct word-3-grams
    between every pair of sources, normalized by the smaller side
    (containment) — the mirror-site / shared-boilerplate detector
    that decides which source pairs need cross-source dedup. Shape:
    shingle-explode → distinct (source, shingle) → self-join on
    shingle → pair agg. The join key is the shingle, so skew follows
    shingle document-frequency — at 100 TB the frequent-shingle head
    is dropped first (boilerplate, see q_llm_boilerplate), which also
    debloats this join."""
    from iceberg_workshop_spark.llm.dedup import _doc_shingles

    docs = load(spark, sf_dir, "documents")
    sh = _doc_shingles(docs.select("doc_id", "text")).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    ss = persist(sh.select("source", "shingle").distinct())
    sz = ss.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = ss.alias("a")
    b = ss.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        inter.join(F.broadcast(sz).withColumnRenamed("source", "src_a"), "src_a")
        .withColumnRenamed("n", "na")
        .join(F.broadcast(sz).withColumnRenamed("source", "src_b"), "src_b")
        .withColumnRenamed("n", "nb")
        .selectExpr(
            "src_a",
            "src_b",
            "n_shared",
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * n_shared"
            " DIV LEAST(na, nb) AS BIGINT) AS overlap_ppm",
        )
        .orderBy(F.desc("overlap_ppm"), "src_a", "src_b")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Importance-ratio data selection (DSIR shape)

IMPORTANCE_TOP_K = 50


@register(
    "q_llm_importance_select",
    oracle=f"""
    WITH {_TOKS_CTE}, corpus AS (
      SELECT tok, COUNT(*) AS c_all FROM toks GROUP BY tok
    ), tgt AS (
      SELECT tok, COUNT(*) AS c_tgt FROM toks WHERE lang = 'en' GROUP BY tok
    ), tot AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM toks) AS n_all,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM toks WHERE lang = 'en')
               AS n_tgt
    ), scored AS (
      SELECT t.doc_id,
             CAST(SUM(CAST(1000000 AS HUGEINT) * COALESCE(g.c_tgt, 0)
                      * tot.n_all
                      // (CAST(c.c_all AS HUGEINT) * tot.n_tgt))
                  // COUNT(*) AS BIGINT)
               AS score_ppm
      FROM toks t
      JOIN corpus c ON c.tok = t.tok
      LEFT JOIN tgt g ON g.tok = t.tok
      CROSS JOIN tot
      GROUP BY t.doc_id
    )
    SELECT s.doc_id, d.source, d.lang, s.score_ppm
    FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    ORDER BY s.score_ppm DESC, s.doc_id
    LIMIT {IMPORTANCE_TOP_K}
    """,
)
def q_llm_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-ratio data selection (the DSIR recipe,
    arXiv:2302.03169, with integer-exact unigram ratios): score each
    document by the mean target-vs-corpus likelihood ratio of its
    tokens (target domain = lang 'en'), keep the top-k. Plan: one
    token explode feeds BOTH LMs (map-side partial counts), the
    per-token ratio table broadcasts back onto the token stream, one
    per-doc agg, TakeOrdered(k). The LM join is vocabulary-sized —
    tiny next to the corpus — so this selects from 100 TB with two
    narrow shuffles. The 1e6·c_tgt·n_all ratio numerator multiplies
    two corpus-scale counts, so it runs in DECIMAL(38,0)/HUGEINT
    (the round-10 ppm discipline) — BIGINT would wrap at ~10^6
    target tokens; the per-doc SUM of BIGINT ratios that remains is
    bounded by doc_len · 1e6 · (n_all/n_tgt)."""
    toks = persist(_toks(spark, sf_dir))
    corpus = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c_all"))
    tgt = (
        toks.filter(F.col("lang") == "en")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    totals = toks.agg(
        F.count(F.lit(1)).alias("n_all"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("n_tgt"),
    )
    ratio = (
        corpus.join(tgt, "tok", "left")
        .crossJoin(F.broadcast(totals))
        .selectExpr(
            "tok",
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * COALESCE(c_tgt, 0)"
            " * n_all DIV (CAST(c_all AS DECIMAL(38,0)) * n_tgt)"
            " AS BIGINT) AS ratio_ppm",
        )
    )
    scored = (
        toks.join(F.broadcast(ratio), "tok")
        .groupBy("doc_id")
        .agg(
            F.expr("CAST(SUM(ratio_ppm) DIV COUNT(*) AS BIGINT)").alias(
                "score_ppm"
            )
        )
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return (
        scored.join(docs, "doc_id")
        .select("doc_id", "source", "lang", "score_ppm")
        .orderBy(F.desc("score_ppm"), "doc_id")
        .limit(IMPORTANCE_TOP_K)
    )


# --------------------------------------------------------------------------
# Broadcast keyword tagging

KEYWORDS = ("spark", "hash", "window", "merge", "stream")


@register(
    "q_llm_keyword_tag",
    oracle=f"""
    WITH {_TOKS_CTE}, kw AS (
      SELECT * FROM (VALUES {", ".join(f"('{k}')" for k in KEYWORDS)})
        AS t(keyword)
    )
    SELECT keyword,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT source) AS n_sources
    FROM toks JOIN kw ON toks.tok = kw.keyword
    GROUP BY keyword
    ORDER BY keyword
    """,
)
def q_llm_keyword_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-keyword tagging via a broadcast lexicon join — the
    Aho-Corasick/FlashText use case expressed relationally: explode
    tokens once, broadcast-hash-join the (tiny) keyword table, agg per
    keyword. At 100 TB the keyword list stays driver-small (even 10⁵
    patterns broadcast fine) and the corpus is touched exactly once."""
    kw = load(spark, sf_dir, "documents").sparkSession.createDataFrame(
        [(k,) for k in KEYWORDS], "keyword string"
    )
    return (
        _toks(spark, sf_dir)
        .join(F.broadcast(kw), F.col("tok") == F.col("keyword"))
        .groupBy("keyword")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("keyword")
    )


# --------------------------------------------------------------------------
# n-gram novelty curve


@register(
    "q_llm_ngram_novelty",
    oracle=f"""
    WITH {_TOKS_CTE}, sh AS (
      SELECT doc_id, source,
             tok || ' ' || LEAD(tok) OVER w || ' ' || LEAD(tok, 2) OVER w
               AS shingle
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), ds AS (
      SELECT DISTINCT doc_id, source, shingle FROM sh
      WHERE shingle IS NOT NULL
    ), firsts AS (
      SELECT shingle, MIN(doc_id) AS first_doc FROM ds GROUP BY shingle
    ), per_doc AS (
      SELECT ds.doc_id, ds.source,
             COUNT(*) AS n_shingles,
             CAST(SUM(CASE WHEN f.first_doc = ds.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM ds JOIN firsts f ON f.shingle = ds.shingle
      GROUP BY 1, 2
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_novel) AS BIGINT) AS sum_novel,
           CAST(SUM(n_shingles) AS BIGINT) AS sum_shingles,
           CAST(CAST(1000000 AS HUGEINT) * SUM(n_novel)
                // CAST(SUM(n_shingles) AS HUGEINT) AS BIGINT)
             AS novelty_ppm
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
)
def q_llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram novelty curve: for each document (in doc_id ingest
    order), the fraction of its distinct 3-grams never seen in any
    earlier document — the diminishing-returns signal data teams use
    to decide when another crawl snapshot stops adding value. The
    'seen before' relation is MIN(doc_id) per shingle (one agg), NOT
    a quadratic scan; joined back on the shingle key and rolled up
    per source."""
    from iceberg_workshop_spark.llm.dedup import _doc_shingles

    docs = load(spark, sf_dir, "documents")
    ds = persist(
        _doc_shingles(docs.select("doc_id", "text")).join(
            docs.select("doc_id", "source"), "doc_id"
        )
    )
    firsts = ds.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        ds.join(firsts, "shingle")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_novel").alias("sum_novel"),
            F.sum("n_shingles").alias("sum_shingles"),
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * SUM(n_novel)"
                " DIV CAST(SUM(n_shingles) AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("novelty_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Lexical diversity (type-token ratio, hapax fraction)


@register(
    "q_llm_ttr",
    oracle=f"""
    WITH {_TOKS_CTE}, freq AS (
      SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY source, tok
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_types,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(1000000 * COUNT(*) // SUM(c) AS BIGINT) AS ttr_ppm,
           CAST(1000000 * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS hapax_ppm
    FROM freq
    GROUP BY source
    ORDER BY source
    """,
)
def q_llm_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per source: type-token ratio and hapax-
    legomena fraction — the quick template-vs-natural-text
    discriminator (templated sources have low TTR, spam has extreme
    hapax rates). One (source, token) count then a per-source finish;
    both shuffles are vocabulary-sized."""
    freq = (
        _toks(spark, sf_dir)
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        freq.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
            F.expr("CAST(1000000 * COUNT(*) DIV SUM(c) AS BIGINT)").alias(
                "ttr_ppm"
            ),
            F.expr(
                "CAST(1000000 * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)"
                " DIV COUNT(*) AS BIGINT)"
            ).alias("hapax_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# PMI collocations

PMI_WINDOW = 3
PMI_MIN_PAIRS = 30
PMI_TOP = 20


@register(
    "q_llm_pmi_pairs",
    oracle=f"""
    WITH {_TOKS_CTE}, n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_toks FROM toks
    ), uni AS (
      SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ), pairs AS (
      SELECT LEAST(a.tok, b.tok) AS w1,
             GREATEST(a.tok, b.tok) AS w2,
             COUNT(*) AS c12
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id
       AND b.pos BETWEEN a.pos + 1 AND a.pos + {PMI_WINDOW}
       AND a.tok <> b.tok
      GROUP BY 1, 2
    )
    SELECT w1, w2, c12,
           CAST(1000 * c12 * n.n_toks // (u1.c * u2.c) AS BIGINT)
             AS lift_x1000
    FROM pairs
    JOIN uni u1 ON u1.tok = w1
    JOIN uni u2 ON u2.tok = w2
    CROSS JOIN n
    WHERE c12 >= {PMI_MIN_PAIRS}
    ORDER BY lift_x1000 DESC, w1, w2
    LIMIT {PMI_TOP}
    """,
)
def q_llm_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: word pairs co-occurring within a ±3-token
    window ranked by lift (the exp of PMI, kept as an integer ratio so
    the ranking is engine-exact without logs). The pair generator is a
    positional self-join WITHIN each document — banded by doc_id, so
    it shuffles each document once, never the corpus cross-product.
    Unigram counts broadcast back onto the pair table."""
    toks = persist(_toks(spark, sf_dir).select("doc_id", "tok", "pos"))
    n = toks.agg(F.count(F.lit(1)).alias("n_toks"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    a = toks.alias("a")
    b = toks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") >= F.col("a.pos") + 1)
            & (F.col("b.pos") <= F.col("a.pos") + PMI_WINDOW)
            & (F.col("a.tok") != F.col("b.tok")),
        )
        .select(
            F.least(F.col("a.tok"), F.col("b.tok")).alias("w1"),
            F.greatest(F.col("a.tok"), F.col("b.tok")).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= PMI_MIN_PAIRS)
    )
    return (
        pairs.join(
            F.broadcast(uni.withColumnRenamed("tok", "w1")), "w1"
        )
        .withColumnRenamed("c", "c1")
        .join(F.broadcast(uni.withColumnRenamed("tok", "w2")), "w2")
        .withColumnRenamed("c", "c2")
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "w1",
            "w2",
            "c12",
            "CAST(1000 * c12 * n_toks DIV (c1 * c2) AS BIGINT) AS lift_x1000",
        )
        .orderBy(F.desc("lift_x1000"), "w1", "w2")
        .limit(PMI_TOP)
    )


# --------------------------------------------------------------------------
# Tokenizer fertility


@register(
    "q_llm_fertility",
    oracle=f"""
    WITH per_doc AS (
      SELECT lang,
             len(string_split({_NORM_SQL}, ' ')) AS n_words,
             len(regexp_extract_all({_NORM_SQL}, '{BPE_REGEX}')) AS n_bpe
      FROM documents
    )
    SELECT lang,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
           CAST(CAST(1000000 AS HUGEINT) * SUM(n_bpe)
                // CAST(SUM(n_words) AS HUGEINT) AS BIGINT)
             AS fertility_ppm
    FROM per_doc
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_llm_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish subword tokens per
    whitespace word — the tokenizer-budget planning number (a
    fertility of 2.0 means a language pays twice the context length).
    Pure projections + one grouped agg; the regex runs JVM-side in
    whole-stage codegen, no Python."""
    docs = load(spark, sf_dir, "documents")
    norm = _norm_text(F.col("text"))
    per_doc = docs.select(
        "lang",
        F.size(F.split(norm, " ")).alias("n_words"),
        F.size(F.regexp_extract_all(norm, F.lit(BPE_REGEX), F.lit(0))).alias(
            "n_bpe"
        ),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.sum("n_words").alias("n_words"),
            F.sum("n_bpe").alias("n_bpe_tokens"),
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * SUM(n_bpe)"
                " DIV CAST(SUM(n_words) AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("fertility_ppm"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Bloom-screened ingest dedup

_BLOOM_BITS = 1 << 18  # 262144 bits = 8192 32-bit words
_BLOOM_WORD = 32
_BF_HASH_IDX = "SELECT 0 AS i UNION ALL SELECT 1 UNION ALL SELECT 2"
_BF_SUB = "substr(md5({key}), 1 + 8 * h.i, 8)"
_BF_HEX_SPARK = "CAST(conv(" + _BF_SUB + ", 16, 10) AS BIGINT)"
_BF_HEX_DUCK = "(('0x' || " + _BF_SUB + ")::BIGINT)"


def _bloom_screen_sql(hexint: str, intdiv: str, toks_cte: str) -> str:
    cslot = hexint.format(key="c.shingle") + f" % {_BLOOM_BITS}"
    pslot = hexint.format(key="p.shingle") + f" % {_BLOOM_BITS}"
    return f"""
WITH {toks_cte}, sh AS (
  SELECT doc_id,
         tok || ' ' || LEAD(tok) OVER w || ' ' || LEAD(tok, 2) OVER w
           AS shingle
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), ds AS (
  SELECT DISTINCT doc_id, shingle FROM sh WHERE shingle IS NOT NULL
), corpus AS (
  SELECT DISTINCT shingle FROM ds WHERE doc_id % 5 <> 0
), batch AS (
  SELECT doc_id, shingle FROM ds WHERE doc_id % 5 = 0
), hashes AS ({_BF_HASH_IDX}),
filter_words AS (
  SELECT slot {intdiv} {_BLOOM_WORD} AS word,
         CAST(bit_or(CAST(1 AS BIGINT) << (slot % {_BLOOM_WORD})) AS BIGINT)
           AS mask
  FROM (SELECT ({cslot}) AS slot FROM corpus c CROSS JOIN hashes h) s
  GROUP BY slot {intdiv} {_BLOOM_WORD}
), pb AS (
  SELECT p.doc_id, p.shingle, ({pslot}) AS slot
  FROM batch p CROSS JOIN hashes h
), tests AS (
  SELECT pb.doc_id, pb.shingle,
         MIN(CASE WHEN fw.mask IS NOT NULL
                   AND (fw.mask &
                        (CAST(1 AS BIGINT) << (pb.slot % {_BLOOM_WORD}))) <> 0
             THEN 1 ELSE 0 END) AS hit
  FROM pb LEFT JOIN filter_words fw
    ON fw.word = pb.slot {intdiv} {_BLOOM_WORD}
  GROUP BY pb.doc_id, pb.shingle
), truth AS (
  SELECT t.doc_id, t.shingle, t.hit,
         CASE WHEN c.shingle IS NOT NULL THEN 1 ELSE 0 END AS present
  FROM tests t LEFT JOIN corpus c ON c.shingle = t.shingle
)
SELECT COUNT(DISTINCT doc_id) AS n_batch_docs,
       COUNT(*) AS n_probes,
       CAST(SUM(present) AS BIGINT) AS n_true_present,
       CAST(SUM(hit) AS BIGINT) AS n_flagged,
       CAST(SUM(CASE WHEN hit = 1 AND present = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos,
       (SUM(CASE WHEN present = 1 AND hit = 0 THEN 1 ELSE 0 END) = 0)
         AS fn_zero
FROM truth
"""


@register(
    "q_llm_dedup_bloom",
    oracle=_bloom_screen_sql(_BF_HEX_DUCK, "//", _TOKS_CTE),
)
def q_llm_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-screened ingest dedup: the corpus's distinct shingles
    build a 2¹⁸-bit Bloom filter (one groupBy(word) bit_or — the
    sketch is 8192 words regardless of corpus size); a new ingest
    batch (doc_id % 5 = 0) probes it shingle-by-shingle. The summary
    certifies the Bloom contract in-query: zero false negatives
    (every truly-present shingle hits) and a deterministic
    false-positive count (md5 bit arithmetic, replayed exactly by
    the oracle). At 100 TB this is the cheap pre-join screen: the
    8 KB-word filter broadcasts to every executor, and only
    bloom-positive docs proceed to the exact semi-join
    (q_llm_dedup_incremental)."""
    load(spark, sf_dir, "documents").createOrReplaceTempView(
        "iws_corpus_documents"
    )
    spark_toks_cte = """
    toks AS (
      SELECT doc_id, tok, pos0 + 1 AS pos
      FROM (
        SELECT doc_id,
               posexplode(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')),
                                ' ')) AS (pos0, tok)
        FROM iws_corpus_documents
      )
    )
"""
    return spark.sql(_bloom_screen_sql(_BF_HEX_SPARK, " div ", spark_toks_cte))


# -------------------------------------------------- distribution drift

KS_DRIFT_PPM = 150000  # flag a source when D >= 0.15


_KS_SQL = """
WITH counts AS (
  SELECT source, n_chars {div} {grain} AS x, COUNT(*) AS c
  FROM {t}documents GROUP BY 1, 2
),
grid AS (
  SELECT s.source, xs.x, COALESCE(c.c, 0) AS c
  FROM (SELECT DISTINCT source FROM counts) s
  CROSS JOIN (SELECT DISTINCT x FROM counts) xs
  LEFT JOIN counts c ON c.source = s.source AND c.x = xs.x
),
cum1 AS (
  SELECT source, x,
         CAST(SUM(c) OVER (PARTITION BY source ORDER BY x) AS BIGINT)
           AS cum_src
  FROM grid
),
cum_all AS (
  SELECT x, CAST(SUM(cum_src) AS BIGINT) AS cum_tot
  FROM cum1 GROUP BY x
),
tot AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src FROM {t}documents
  GROUP BY source
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM {t}documents),
stat AS (
  SELECT c1.source,
         t.n_src,
         n.n_all - t.n_src AS n_rest,
         MAX(ABS(CAST(c1.cum_src AS HUGEINT) * (n.n_all - t.n_src)
                 - CAST(ca.cum_tot - c1.cum_src AS HUGEINT) * t.n_src))
           AS d_num
  FROM cum1 c1
  JOIN cum_all ca ON ca.x = c1.x
  JOIN tot t ON t.source = c1.source, n
  GROUP BY c1.source, t.n_src, n.n_all
)
SELECT source, n_src, n_rest,
       CAST(d_num AS BIGINT) AS d_num,
       CAST(CAST(1000000 AS HUGEINT) * d_num
            {div} (CAST(n_src AS HUGEINT) * n_rest) AS BIGINT) AS d_ppm,
       CAST(CAST(CAST(1000000 AS HUGEINT) * d_num
            {div} (CAST(n_src AS HUGEINT) * n_rest) AS BIGINT)
            >= {thr} AS INT) AS drifted
FROM stat
ORDER BY source
"""


KS_MAX_GRID = 100_000  # dense-grid cap on the distinct-value axis


@register(
    "q_llm_drift_ks",
    oracle=_KS_SQL.format(t="", div="//", thr=KS_DRIFT_PPM, grain=1),
)
def q_llm_drift_ks(
    spark: SparkSession,
    sf_dir: str,
    *,
    grain: int = 1,
    max_grid: int = KS_MAX_GRID,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift detector per source: the
    max CDF gap between a source's doc-length distribution and the
    REST of the corpus — the standard distribution-shift monitor a
    training pipeline runs when a crawl/source update lands (flag
    before the mix silently changes).

    Integer-exact cross-engine: with counts c, D's comparison is done
    on the cross-multiplied numerator max |cum_src·n_rest −
    cum_rest·n_src| and reported as ppm via integer division — no
    float CDFs (BOTH the 1e6 scaling and the ~n_src·n_rest-sized
    d_num products run in DECIMAL(38,0) / HUGEINT — no silent BIGINT
    wrap at any corpus size; the unbounded d_num output column is
    narrowed to BIGINT under an in-plan ``assert_true``, same
    discipline as Mann–Whitney's rsum2). Scale shape:
    counts groupBy is the only corpus-sized pass; the (source ×
    distinct-length) grid is a cross join of two BOUNDED dims — and
    that precondition is now ENFORCED, not assumed: an in-plan
    ``assert_true`` fails the job loudly when the value axis exceeds
    ``max_grid`` distinct points (raise ``grain`` to bucket the axis,
    the PSI ``div 100`` pattern, instead of OOMing on a continuous
    column). Per-source CDFs use a window PARTITIONED by source; the
    global CDF needs NO unpartitioned window — it is the per-x SUM of
    the per-source cumulative counts (Σ_s cum_src(s, x) =
    cum_total(x)), one grouped aggregate over the grid."""
    docs = load(spark, sf_dir, "documents")
    # `div` (truncate toward zero) == the oracle's floor `//` here
    # ONLY because n_chars >= 0 by construction (a character count);
    # a sign-carrying axis must use the pmod floor-division form
    # (see q_agg_mannwhitney's value bucketing)
    counts = docs.groupBy(
        "source", F.expr(f"n_chars div {int(grain)}").alias("x")
    ).agg(F.count(F.lit(1)).alias("c"))
    sources = counts.select("source").distinct()
    xs = _guard_axis(
        counts.select("x").distinct(), "q_llm_drift_ks", int(max_grid)
    )
    grid = (
        sources.crossJoin(F.broadcast(xs))
        .join(counts, ["source", "x"], "left")
        .withColumn("c", F.coalesce("c", F.lit(0)))
    )
    w = Window.partitionBy("source").orderBy("x")
    cum1 = grid.withColumn("cum_src", F.sum("c").over(w).cast("long"))
    cum_all = cum1.groupBy("x").agg(
        F.sum("cum_src").cast("long").alias("cum_tot")
    )
    tot = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    n_all = docs.agg(F.count(F.lit(1)).alias("n_all"))
    stat = (
        cum1.join(cum_all, "x")
        .join(tot, "source")
        .crossJoin(F.broadcast(n_all))
        .withColumn("n_rest", F.col("n_all") - F.col("n_src"))
        .groupBy("source", "n_src", "n_rest")
        .agg(
            # cross-multiplied CDF-gap numerator in DECIMAL(38,0):
            # d_num ~ n_src·n_rest wraps BIGINT past ~6e9 docs — same
            # closed-accumulator class as Mann–Whitney's rsum2
            F.max(
                F.abs(
                    F.col("cum_src").cast("decimal(38,0)")
                    * F.col("n_rest")
                    - (F.col("cum_tot") - F.col("cum_src")).cast(
                        "decimal(38,0)"
                    )
                    * F.col("n_src")
                )
            ).alias("d_num")
        )
    )
    return stat.where(
        # d_num's BIGINT output is narrowed LOUDLY, never wrapped
        F.assert_true(
            F.expr("d_num <= 9223372036854775807"),
            F.lit(
                "q_llm_drift_ks: d_num exceeds BIGINT — report d_ppm "
                "only or widen the output contract"
            ),
        ).isNull()
    ).select(
        "source",
        F.col("n_src").cast("long").alias("n_src"),
        F.col("n_rest").cast("long").alias("n_rest"),
        F.col("d_num").cast("long").alias("d_num"),
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * d_num"
            " div (CAST(n_src AS DECIMAL(38,0)) * n_rest) AS BIGINT)"
        ).alias("d_ppm"),
        F.expr(
            "CAST(CAST(CAST(1000000 AS DECIMAL(38,0)) * d_num"
            " div (CAST(n_src AS DECIMAL(38,0)) * n_rest) AS BIGINT)"
            f" >= {KS_DRIFT_PPM} AS INT)"
        ).alias("drifted"),
    ).orderBy("source")


PSI_ALERT = 0.2  # the classic PSI action threshold


_PSI_SQL = """
WITH b AS (
  SELECT source, n_chars {div} 100 AS bucket FROM {t}documents
),
counts AS (SELECT source, bucket, COUNT(*) AS c FROM b GROUP BY source, bucket),
grid AS (
  SELECT s.source, xs.bucket, COALESCE(c.c, 0) AS c
  FROM (SELECT DISTINCT source FROM counts) s
  CROSS JOIN (SELECT DISTINCT bucket FROM counts) xs
  LEFT JOIN counts c ON c.source = s.source AND c.bucket = xs.bucket
),
c_all AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS cv FROM grid GROUP BY bucket),
nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets FROM c_all),
tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_src FROM grid GROUP BY source),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_all FROM counts),
terms AS (
  SELECT g.source, g.bucket,
         ((g.c + 1.0) / (t.n_src + nb.n_buckets)
          - (ca.cv - g.c + 1.0) / (n.n_all - t.n_src + nb.n_buckets))
         * ln(((g.c + 1.0) / (t.n_src + nb.n_buckets))
              / ((ca.cv - g.c + 1.0)
                 / (n.n_all - t.n_src + nb.n_buckets))) AS term,
         t.n_src, n.n_all - t.n_src AS n_rest
  FROM grid g
  JOIN c_all ca ON ca.bucket = g.bucket
  JOIN tot t ON t.source = g.source, nb, n
),
psi AS (
  SELECT source, n_src, n_rest,
         ROUND(list_reduce(list(term ORDER BY bucket), (a, x) -> a + x),
               4) AS psi
  FROM terms GROUP BY source, n_src, n_rest
)
SELECT source, n_src, n_rest, psi,
       CAST(psi >= {thr} AS INT) AS shifted
FROM psi ORDER BY source
"""


@register(
    "q_llm_drift_psi",
    oracle=_PSI_SQL.format(t="", div="//", thr=PSI_ALERT),
)
def q_llm_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per source vs rest-of-corpus over
    100-char doc-length buckets — the ML-monitoring drift score
    (PSI ≥ 0.2 = action) that complements q_llm_drift_ks's max-gap
    statistic with a mass-weighted whole-distribution one.

    Laplace-smoothed (+1 per bucket) so empty buckets never divide by
    zero, which also makes every (source, bucket) cell well-defined on
    the dense grid. Floats are unavoidable (PSI is a log measure), so
    the per-source sum runs over a list ORDERED BY bucket in both
    engines (the unigram_logprob ordered-reduce discipline) and the
    result is rounded to 4 — deterministic cross-engine. Scale shape:
    identical to q_llm_drift_ks (one corpus-sized groupBy, bounded
    source × bucket grid, no global window)."""
    docs = load(spark, sf_dir, "documents")
    b = docs.select("source", F.expr("n_chars div 100").alias("bucket"))
    counts = b.groupBy("source", "bucket").agg(F.count(F.lit(1)).alias("c"))
    sources = counts.select("source").distinct()
    buckets = counts.select("bucket").distinct()
    grid = (
        sources.crossJoin(F.broadcast(buckets))
        .join(counts, ["source", "bucket"], "left")
        .withColumn("c", F.coalesce("c", F.lit(0)))
    )
    c_all = grid.groupBy("bucket").agg(F.sum("c").cast("long").alias("cv"))
    nb = c_all.agg(F.count(F.lit(1)).cast("long").alias("n_buckets"))
    tot = grid.groupBy("source").agg(F.sum("c").cast("long").alias("n_src"))
    n_all = counts.agg(F.sum("c").cast("long").alias("n_all"))
    terms = (
        grid.join(c_all, "bucket")
        .join(tot, "source")
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(n_all))
        .withColumn("p1", (F.col("c") + 1.0) / (F.col("n_src") + F.col("n_buckets")))
        .withColumn(
            "p2",
            (F.col("cv") - F.col("c") + 1.0)
            / (F.col("n_all") - F.col("n_src") + F.col("n_buckets")),
        )
        .withColumn(
            "term",
            (F.col("p1") - F.col("p2")) * F.log(F.col("p1") / F.col("p2")),
        )
        .withColumn("n_rest", F.col("n_all") - F.col("n_src"))
    )
    psi = (
        terms.groupBy("source", "n_src", "n_rest")
        .agg(
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("bucket", "term"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["term"],
                ),
                4,
            ).alias("psi")
        )
    )
    return psi.select(
        "source",
        "n_src",
        "n_rest",
        "psi",
        (F.col("psi") >= PSI_ALERT).cast("int").alias("shifted"),
    ).orderBy("source")
